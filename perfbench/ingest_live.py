"""``ingest_live``: the reference's own job, paced open loop.

A separate generator process (``feed.py``) appends seeded frames to
four spools: spot BNBUSDT trade + depth and usdm_futures BTCUSDT
trade + depth. The engine runs the production path,
``runner.start_jobs`` with ``storage.format="snapshot"`` (one snapshot
commit per micro-batch, auto-compaction every 8 versions). In set-up
the same pipelines run once, untimed, over a small throwaway spool set,
so the measured batches find compiled code and running Python workers.
The run then starts from a pre-written backlog (restart after an
outage), which drains as one large first batch; once every stream has
committed it, the generator starts its live schedule at a fixed offered
rate for the measured window.

Frame latency runs from the creation stamp (``arrival_ms``) to the
commit time of the first snapshot version holding the frame's rows,
read from the landed tables after the run: manifest mtime, the commit
time ``read_version_as_of`` uses. Only end-of-run sources are read:
the queries' ``recentProgress``, the landed tables and, in traced runs,
the status tracker under each query's ``runId`` job group.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from binance_etl_spark import runner
from binance_etl_spark.operators import snapshots as SNAP
from binance_etl_spark.schemas import DECIMAL
from binance_etl_spark.sources.replay import read_replay
from binance_etl_spark.streaming.book_sync import book_sync_batch
from binance_etl_spark.streaming.book_sync_futures import book_sync_batch_futures, parse_depth_updates_futures
from binance_etl_spark.streaming.parse import parse_depth_updates, parse_trades
from binance_etl_spark.streaming.pipelines import stop_all

import feed
from common import group_counts, java_error_class, median, percentile

WARM_S = 2.0  # seconds of frames in the warm-up batch
SETTLE_S = 2.0  # live frames created this soon after the live start are not sampled
DRAIN_TIMEOUT_S = 60.0


def _table_dir(out_root: str, key: str) -> str:
    market, symbol, event = key.split(".")
    return os.path.join(out_root, market, symbol, "trades" if event == "trade" else "depth")


def _as_dict(progress) -> dict:
    return json.loads(progress.json) if hasattr(progress, "json") else progress


def _offset(progress, which: str = "endOffset") -> int | None:
    off = _as_dict(progress)["sources"][0].get(which)
    if off is None:
        return None
    if isinstance(off, str):
        off = json.loads(off)
    return int(off["index"])


def _multiset_hash(df) -> tuple[int, int]:
    """(row count, sum of row hashes): equal for equal row multisets."""
    h = df.select(F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)").alias("h"))
    n, s = h.agg(F.count("*"), F.sum("h")).first()
    return int(n), int(s or 0)


class IngestLive:
    name = "ingest_live"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spool_dir = os.path.join(ctx.work, "spools")
        self.proc: subprocess.Popen | None = None
        self.failed: str | None = None

    # -- set-up -----------------------------------------------------------
    def prepare(self) -> None:
        """Starts the generator before the engine boots: the backlog
        is written while the JVM starts."""
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(feed.__file__), "--dir", self.spool_dir, "--seed", str(self.ctx.seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def _config(self, paths: dict[str, str], root: str) -> dict:
        return {
            "events": [f"binance.{k}" for k in paths],
            "storage": {"format": "snapshot", "output_path": os.path.join(root, "lake"),
                        "checkpoint_path": os.path.join(root, "ckpt")},
            "sources": {k.split(".", 1)[1]: p for k, p in paths.items()},
            "snapshots": self.snapshots,
        }

    def _wait_offsets(self, queries: dict, heads: dict[str, int], timeout_s: float) -> None:
        """Until every query has committed up to its spool head."""
        limit = time.time() + timeout_s
        while not all(
            q.lastProgress is not None and _offset(q.lastProgress) >= heads[k] for k, q in queries.items()
        ):
            self._check(queries)
            if time.time() > limit:
                raise TimeoutError("streams did not drain the spools")
            time.sleep(0.05)

    def _warm_up(self) -> None:
        """The four pipelines, one batch each, over throwaway spools."""
        root = os.path.join(self.ctx.work, "warm")
        streams = [feed.Stream(*spec, self.ctx.seed, len(feed.STREAMS) + i) for i, spec in enumerate(feed.STREAMS)]
        paths = feed.spool_paths(os.path.join(root, "spools"))
        os.makedirs(os.path.join(root, "spools"))
        due_ms = int(time.time() * 1000)
        for s, p in zip(streams, paths.values()):
            with open(p, "w") as f:
                f.write(s.lines(int(s.rate * WARM_S), due_ms))
        try:
            queries = dict(zip(paths, runner.start_jobs(self.ctx.spark, self._config(paths, root))))
            self._wait_offsets(queries, {k: s.seq for k, s in zip(paths, streams)}, DRAIN_TIMEOUT_S)
        finally:
            stop_all(self.ctx.spark)

    def setup(self) -> None:
        self.paths = feed.spool_paths(self.spool_dir)
        self.snapshots = feed.snapshots()
        self.config = self._config(self.paths, self.ctx.work)
        self.out_root = self.config["storage"]["output_path"]
        t0 = time.perf_counter()
        self._warm_up()  # while the generator may still write the backlog
        self.warm_up_s = time.perf_counter() - t0
        self.backlog = json.loads(self.proc.stdout.readline())["ready"]

    def _send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait(timeout=30)

    # -- measured window --------------------------------------------------
    def _check(self, queries: dict) -> None:
        for key, q in queries.items():
            exc = q.exception()
            if exc is not None:
                self.failed = java_error_class(exc)
                raise RuntimeError(f"stream {key} failed: {exc}")

    def measure(self, seconds: float) -> None:
        self.t_start = time.time()
        self.queries = dict(zip(self.paths, runner.start_jobs(self.ctx.spark, self.config)))
        try:
            # catch-up: every query has committed its first batch, which
            # holds the whole backlog; then the live schedule starts
            while not all(q.lastProgress is not None for q in self.queries.values()):
                self._check(self.queries)
                time.sleep(0.05)
            self._send("go")
            self.t_go = time.time()
            deadline = self.t_go + SETTLE_S + seconds
            while time.time() < deadline:
                self._check(self.queries)
                time.sleep(0.1)
            self._send("stop")
            self.feed_end = json.loads(self.proc.stdout.readline())
            self.t_stop = time.time()
            # drain what was generated before the stop
            self._wait_offsets(self.queries, self.feed_end["heads"], DRAIN_TIMEOUT_S)
            self.drain_s = time.time() - self.t_stop
            self.progress = {k: [_as_dict(p) for p in q.recentProgress] for k, q in self.queries.items()}
            self.run_ids = {k: str(q.runId) for k, q in self.queries.items()}
        finally:
            stop_all(self.ctx.spark)
            if self.proc.poll() is None:
                self._send("stop")
            self.proc.wait(timeout=30)

    def failures(self) -> list[str]:
        return [self.failed] if self.failed else []

    # -- landed tables ----------------------------------------------------
    def _landed_frames(self, key: str) -> dict[int, tuple[float, int]]:
        """frame key -> (commit time of the first version holding it,
        creation stamp). Trades key on the trade id, depth on the
        frame's last update id."""
        tdir = _table_dir(self.out_root, key)
        mdir = os.path.join(tdir, "_manifests")
        depth = key.endswith(".depth")
        cols = ["update_id", "local_timestamp", "is_snapshot"] if depth else ["id", "local_timestamp"]
        seen: dict[int, tuple[float, int]] = {}
        prev: set[str] = set()
        self.versions[key] = []
        for v in SNAP.main_versions(tdir):
            mpath = os.path.join(mdir, f"v{v}.json")
            with open(mpath) as f:
                m = json.load(f)
            committed = os.path.getmtime(mpath)
            files = set(m["files"])
            added, prev = files - prev, files
            self.versions[key].append((m.get("mode"), committed, len(files)))
            if m.get("mode") != "append":
                continue
            for rel in sorted(added):
                t = pq.read_table(os.path.join(tdir, rel), columns=cols).to_pydict()
                snap = t["is_snapshot"] if depth else [False] * len(t["local_timestamp"])
                for fid, local, is_snap in zip(t[cols[0]], t["local_timestamp"], snap):
                    if not is_snap and fid not in seen:
                        seen[fid] = (committed, local)
        return seen

    # -- correctness ------------------------------------------------------
    def _verify_stream(self, key: str) -> list[str]:
        spark = self.ctx.spark
        errors = []
        got = SNAP.read_version(spark, _table_dir(self.out_root, key))
        frames = read_replay(spark, self.paths[key])
        if key.endswith(".trade"):
            want = parse_trades(frames)
        else:
            if key.startswith("spot."):
                want = book_sync_batch(parse_depth_updates(frames), self.snapshots)
            else:
                want = book_sync_batch_futures(parse_depth_updates_futures(frames), self.snapshots)
            want = want.withColumn("price", F.col("price").cast(DECIMAL)).withColumn(
                "quantity", F.col("quantity").cast(DECIMAL)
            )
            flagged = sorted(r[0] for r in got.where("gap").select("update_id").distinct().collect())
            injected = sorted(self.feed_end["gaps"][key])
            if flagged != injected:
                errors.append(f"{key}: gap flags at {flagged}, injected at {injected}")
        hg, hw = _multiset_hash(got), _multiset_hash(want.select(*got.columns))
        if hg != hw:
            errors.append(f"{key}: landed rows {hg} != batch recompute {hw}")
        if len(self.frames[key]) != self.feed_end["heads"][key]:
            errors.append(f"{key}: {len(self.frames[key])} frames landed, {self.feed_end['heads'][key]} generated")
        return errors

    def verify(self) -> list[str]:
        """Landed tables == a batch recompute of the same spools through
        parse_trades / book_sync_batch(_futures) (row-multiset hash, so
        no frame lands twice or goes missing); gap flags exactly at the
        injected gaps. The four checks run side by side."""
        self.versions: dict[str, list] = {}
        self.frames = {k: self._landed_frames(k) for k in self.paths}
        with ThreadPoolExecutor(len(self.paths)) as pool:
            return [e for errs in pool.map(self._verify_stream, self.paths) for e in errs]

    # -- metrics ----------------------------------------------------------
    def _backlog(self) -> dict[str, list[tuple[float, int]]]:
        """Per stream, (trigger start in epoch ms, frames created by
        then that the trigger's start offset had not yet admitted), for
        every trigger after the catch-up batch."""
        out = {}
        for key, ps in self.progress.items():
            created = sorted(local for _, local in self.frames[key].values())
            pts = []
            for p in ps:
                start = _offset(p, "startOffset")
                if start is None:
                    continue
                t = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0
                pts.append((t, bisect.bisect_right(created, t) - start))
            out[key] = pts
        return out

    def _backlog_growth_per_s(self, t_from: float, t_to: float) -> float:
        """Sum over streams of the least-squares slope of the backlog
        against time, over the triggers of the sampled live window:
        about 0 while the engine keeps up with the offered rate."""
        growth = 0.0
        for pts in self._backlog().values():
            pts = [(t / 1000.0, b) for t, b in pts if t_from <= t < t_to]
            if len(pts) < 2:
                continue
            mt = sum(t for t, _ in pts) / len(pts)
            mb = sum(b for _, b in pts) / len(pts)
            growth += sum((t - mt) * (b - mb) for t, b in pts) / sum((t - mt) ** 2 for t, _ in pts)
        return growth

    def results(self) -> dict:
        t_from, t_to = (self.t_go + SETTLE_S) * 1000.0, self.t_stop * 1000.0
        live = [
            committed * 1000.0 - local
            for frames in self.frames.values()
            for committed, local in frames.values()
            if t_from <= local < t_to
        ]
        # the backlog drains in batch 0: its commit ends the catch-up
        caught_up = max(next(c for mode, c, _ in vs if mode == "append") for vs in self.versions.values())
        n_backlog = sum(self.backlog.values())
        catchup_s = caught_up - self.t_start
        return {
            "samples": live,
            "throughput": n_backlog / catchup_s,
            "attempted": sum(1 for ps in self.progress.values() for p in ps if p["numInputRows"] > 0),
            "failed": 0,
            "extra": {
                "ingest.warm_up_s": (self.warm_up_s, "s"),
                "ingest.backlog_frames": (n_backlog, "count"),
                "ingest.catchup_s": (catchup_s, "s"),
                "ingest.latency_p99_ms": (percentile(live, 99), "ms"),
                "ingest.live_frames_per_s": (len(live) / ((t_to - t_from) / 1000.0), "1/s"),
                "ingest.drain_s": (self.drain_s, "s"),
                "generator.late_ms_p99": (percentile(self.feed_end["late_ms"], 99), "ms"),
                "replay.backlog_growth_per_s": (self._backlog_growth_per_s(t_from, t_to), "1/s"),
            },
        }

    def layers(self) -> dict:
        """Per-layer readings from the engine's own progress reports,
        the landed tables and the status tracker."""
        data = [p for ps in self.progress.values() for p in ps if p["numInputRows"] > 0]
        trigger = sum(p["durationMs"]["triggerExecution"] for p in data)

        def ms(field: str) -> list[float]:
            return [p["durationMs"].get(field, 0) for p in data]

        def share(total_ms: float) -> float:
            return 100.0 * total_ms / trigger

        state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
        backlog_max = max(b for pts in self._backlog().values() for _, b in pts)
        depth_in = sum(p["numInputRows"] for k, ps in self.progress.items() if k.endswith(".depth") for p in ps)
        depth_out = sum(
            SNAP.history(_table_dir(self.out_root, k))[-1]["n_rows"] for k in self.paths if k.endswith(".depth")
        )
        disk = live_bytes = 0
        for key in self.paths:
            tdir = _table_dir(self.out_root, key)
            live_bytes += SNAP.history(tdir)[-1]["n_bytes"]
            for root, _, names in os.walk(os.path.join(tdir, "data")):
                disk += sum(os.path.getsize(os.path.join(root, n)) for n in names)
        counts = [group_counts(self.ctx.spark, rid) for rid in self.run_ids.values()]
        n = len(data)
        return {
            "spark.jobs_per_op": (sum(c["jobs"] for c in counts) / n, "count"),
            "spark.tasks_per_op": (sum(c["tasks"] for c in counts) / n, "count"),
            "stream.batches": (n, "count"),
            "stream.trigger_ms_p50": (median(ms("triggerExecution")), "ms"),
            "stream.trigger_ms_p90": (percentile(ms("triggerExecution"), 90), "ms"),
            "stream.query_planning_ms_p50": (median(ms("queryPlanning")), "ms"),
            "stream.wal_commit_ms_p50": (median(ms("walCommit")), "ms"),
            "stream.commit_offsets_ms_p50": (median(ms("commitOffsets")), "ms"),
            "stream.planning_pct": (share(sum(ms("queryPlanning"))), "%"),
            "stream.wal_pct": (share(sum(ms("walCommit")) + sum(ms("commitOffsets"))), "%"),
            "replay.latest_offset_ms_p50": (median(ms("latestOffset")), "ms"),
            "replay.latest_offset_pct": (share(sum(ms("latestOffset"))), "%"),
            "replay.backlog_frames_max": (backlog_max, "count"),
            "sink.add_batch_ms_p50": (median(ms("addBatch")), "ms"),
            "sink.add_batch_ms_p90": (percentile(ms("addBatch"), 90), "ms"),
            "sink.add_batch_pct": (share(sum(ms("addBatch"))), "%"),
            "sink.versions": (sum(len(v) for v in self.versions.values()), "count"),
            "sink.compactions": (sum(1 for v in self.versions.values() for x in v if x[0] == "compact"), "count"),
            "sink.files_live_end": (sum(v[-1][2] for v in self.versions.values()), "count"),
            "sink.disk_bytes_per_live_byte": (disk / live_bytes, "ratio"),
            "book_sync.state_update_ms_p50": (median([s.get("allUpdatesTimeMs", 0) for s in state]), "ms"),
            "book_sync.state_commit_ms_p50": (median([s.get("commitTimeMs", 0) for s in state]), "ms"),
            "book_sync.state_commit_pct": (share(sum(s.get("commitTimeMs", 0) for s in state)), "%"),
            "book_sync.state_bytes": (max(s.get("memoryUsedBytes", 0) for s in state), "bytes"),
            "book_sync.rows_out_per_frame": (depth_out / depth_in, "ratio"),
        }
