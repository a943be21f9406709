"""Repository benchmark: one workload per fresh process.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of a checkout. Each workload builds its inputs from
``--seed``, sets up, measures for ``--seconds``, checks its outputs
against a reference computation outside the timed window, prints every
metric as ``name value unit`` and, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1``
records spans around every call into the package, reads Spark's
status tracker per span, writes the spans to the work directory and
reports the per-layer metrics. The exit code is non-zero when an
output is wrong or an operation failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_live", "lakehouse_analyst")
# lakehouse_analyst runs with C1 only: its window is one cycle of short
# operations, far too few for C2 to finish compiling the engine's hot
# paths, so with C2 a run measures how far compilation got in set-up,
# which depends on the CPU time the host left the compiler threads
JVM_OPTIONS = {"ingest_live": "", "lakehouse_analyst": "-XX:TieredStopAtLevel=1"}


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str, jvm_options: str) -> None:
    """Keep every file the engine writes inside the work directory, and
    give the JVMs the workload's options."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts (its launcher too): temp files in the
    # work dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData {jvm_options}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def _run_all(args) -> int:
    """Each workload in its own fresh process, one after another."""
    code = 0
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = out.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{wl}] {line}")
        if out.returncode != 0 or not lines:
            code = out.returncode or 1
            combined["correct"] = False
            continue
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{wl}.{k}"] = v
    print(json.dumps(combined))
    return code


class Ctx:
    """What a workload gets: the session, seed, work dir and tracer."""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    declared = _declared()
    if args.workload == "all":
        return _run_all(args)

    sys.path.insert(0, ROOT)
    try:
        import binance_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package to measure is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, JVM_OPTIONS[args.workload])

    from common import Tracer, gc_beans, gc_seconds, jvm_pid, percentile, stop_engine, vm_hwm_kb

    if args.workload == "ingest_live":
        from ingest_live import IngestLive as Workload
    else:
        from lakehouse_analyst import LakehouseAnalyst as Workload

    from binance_etl_spark.session import get_spark

    ctx = Ctx(None, args.seed, work, None)
    wl = Workload(ctx)
    printed: dict[str, tuple[float, str]] = {}
    try:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if args.trace:
            # the status tracker must still hold every job of the run
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(wl.prepare)  # seeded inputs, beside the JVM boot
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=conf)
            get_spark_s = time.perf_counter() - t0
            prepared.result()
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.tracer = Tracer(spark, enabled=bool(args.trace))
        wl.setup()
        setup_s = time.perf_counter() - T_START
        beans = gc_beans(spark)
        gc0 = gc_seconds(beans)
        wl.measure(args.seconds)
        measure_s = time.perf_counter() - T_START - setup_s
        gc_s = gc_seconds(beans) - gc0
        # high-water marks of the workload itself, before the checks run
        rss = {"python": vm_hwm_kb(os.getpid()) / 1024.0, "jvm": vm_hwm_kb(jvm_pid(spark)) / 1024.0}
        t0 = time.perf_counter()
        errors = wl.verify()
        verify_s = time.perf_counter() - t0
        res = wl.results()
        samples = res["samples"]
        attempted, failed = res["attempted"], res["failed"]
        printed.update(
            {
                "setup_s": (setup_s, "s"),
                "latency_p50_ms": (percentile(samples, 50), "ms"),
                "latency_p90_ms": (percentile(samples, 90), "ms"),
                "throughput_per_s": (res["throughput"], "1/s"),
                "peak_rss_mb": (rss["python"] + rss["jvm"], "MB"),
                "rss.python_mb": (rss["python"], "MB"),
                "rss.jvm_mb": (rss["jvm"], "MB"),
                "latency_samples": (len(samples), "count"),
                "failed_ratio": (failed / attempted, "ratio"),
                "run.measure_s": (measure_s, "s"),
                "run.verify_s": (verify_s, "s"),
            }
        )
        printed.update(res["extra"])
        if args.trace:
            printed.update(
                {
                    "session.get_spark_s": (get_spark_s, "s"),
                    "jvm.gc_s": (gc_s, "s"),
                    "trace.bookkeeping_pct": (100.0 * ctx.tracer.bookkeeping_s / measure_s, "%"),
                }
            )
            printed.update(wl.layers())
            spans_path = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
            ctx.tracer.dump(spans_path)
            print(f"# spans written to {os.path.relpath(spans_path, ROOT)}")
    except Exception as exc:  # noqa: BLE001 - the run reports, never retries
        traceback.print_exc()
        for cls in wl.failures():
            print(f"FAILED op: {cls}")
        print(f"perfbench: {args.workload} failed: {exc}", file=sys.stderr)
        n_failed = max(1, len(wl.failures()))
        print(json.dumps({"correct": False, "attempted": n_failed, "failed": n_failed, "metrics": {}}))
        return 1
    finally:
        wl.close()
        if ctx.spark is not None:
            stop_engine(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in printed.items():
        print(f"{name} {value:.6g} {unit}")
    for cls in wl.failures():
        print(f"FAILED op: {cls}")
    for e in errors:
        print(f"CHECK FAILED: {e}")
    metrics = {}
    for m in declared["per_layer" if args.trace else "end_to_end"]:
        if m["name"] in printed:
            value = printed[m["name"]][0]
        elif args.trace and m["unit"] not in ("s", "ms"):
            value = 0  # a layer this workload does not run does no work
        else:
            print(f"perfbench: metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = not errors and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
