"""Measurement helpers shared by the workloads.

Everything here reads what the engine already reports, from outside
the program: wall clocks around calls into the package's public
functions, Spark's status tracker under a per-call job group, the JVM
garbage-collector MXBeans, and ``/proc/<pid>/status`` for memory.
"""

from __future__ import annotations

import json
import math
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return s[k]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    # spark-submit execs the JVM in place, so the gateway's child pid
    # is the JVM itself
    return spark.sparkContext._gateway.proc.pid


def stop_engine(spark) -> None:
    """Stops the session and waits for the JVM to exit: the gateway
    JVM ends when its stdin closes, and its Python workers with it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def gc_beans(spark) -> list:
    return list(spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())


def gc_seconds(beans: list) -> float:
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def java_error_class(exc: BaseException) -> str:
    """Exception class for failure accounting: the Python class, plus
    the JVM throwable class when the error crossed py4j."""
    name = type(exc).__name__
    java = getattr(exc, "java_exception", None)
    if java is not None:
        try:
            name += ":" + java.getClass().getName()
        except Exception:  # noqa: BLE001 - the gateway may be gone
            pass
    return name


def group_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans carry name, start, end, parent
    and the run id shared by every span of one run; they are written
    out once, when the run ends. With ``enabled=False`` a span only
    times its body (the untraced runs need the walls of their own
    operations) and touches no Spark state."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer's own reads
        self.beans = gc_beans(spark) if enabled else []

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    @contextmanager
    def bookkeeping(self):
        """Charges the body to the tracer's own time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    def finish(self) -> None:
        """Reads jobs, stages and tasks per span from the status tracker,
        once, after the measured window."""
        if self.enabled:
            for i, s in enumerate(self.spans):
                if "jobs" not in s.attrs:
                    s.attrs.update(group_counts(self.spark, f"pb-{self.run_id}-{i}"))

    def counts(self, first: int, end: int) -> dict:
        """Jobs, stages and tasks of spans[first:end] (a span and the
        spans nested in it)."""
        return {k: sum(s.attrs[k] for s in self.spans[first:end]) for k in ("jobs", "stages", "tasks")}

    def self_seconds(self, idx: int) -> float:
        """Span wall minus the part its direct children cover."""
        s = self.spans[idx]
        covered = sum(c.end - c.start for c in self.spans if c.parent == idx)
        return (s.end - s.start) - covered

    def dump(self, path: str) -> None:
        self.finish()
        rows = []
        for i, s in enumerate(self.spans):
            rows.append(
                {
                    "id": i,
                    "run_id": self.run_id,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": s.parent,
                    "wall_s": s.end - s.start,
                    "self_s": self.self_seconds(i),
                    **s.attrs,
                }
            )
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name
        self.idx = -1
        self.wall = 0.0

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append(Span(self.name, 0.0, parent=parent))
        t._stack.append(self.idx)
        if t.enabled:
            with t.bookkeeping():
                self.gc0 = gc_seconds(t.beans)
                t.spark.sparkContext.setJobGroup(f"pb-{t.run_id}-{self.idx}", self.name)
        t.spans[self.idx].start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.t
        end = time.perf_counter()
        span = t.spans[self.idx]
        span.end = end
        self.wall = end - span.start
        t._stack.pop()
        if t.enabled:
            with t.bookkeeping():
                span.attrs["gc_s"] = gc_seconds(t.beans) - self.gc0
                parent = t._stack[-1] if t._stack else None
                if parent is not None:
                    # nested spans run under their own group; give the
                    # parent's group back for the rest of its body
                    t.spark.sparkContext.setJobGroup(f"pb-{t.run_id}-{parent}", t.spans[parent].name)
                else:
                    t.spark.sparkContext.setJobGroup("", "")
        return False
