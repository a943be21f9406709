"""``lakehouse_analyst``: one closed-loop client on the batch side.

Each cycle runs one registered analyst query over seeded TPC-H-like
tables (``graph_pagerank``: catalog reads and an iterative loop) and a
fixed set of operations on one snapshot table built from ``lineitem``
with ``unique_keys``, ``bloom_cols`` and stats: writes
(``write_version`` append, ``merge_into`` corrections, ``delete_keys``
erasures, ``update_where``, ``compact``) interleaved with reads (point
lookups by key and scan aggregates via ``read_version``,
``read_version_as_of`` time travel). The order of the cycle is fixed,
so every run reads the table in the same states (how many files a read
opens depends on how long ago ``compact`` ran); the seed draws the
rows, keys and predicates. In set-up every operation runs once,
untimed; the window then runs whole cycles, so every run measures the
same operation composition.

Correctness, checked outside the timed calls:
- each query's result hash equals the DuckDB oracle over the same
  parquet files, and is equal across cycles;
- every lakehouse read, and the final table, equal a plain-Python model
  of the same operation sequence.
"""

from __future__ import annotations

import hashlib
import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from binance_etl_spark.operators import snapshots as SNAP
from binance_etl_spark.plans import registry

import datagen
from common import java_error_class, median, percentile

SF = 0.01
QUERIES = ("graph_pagerank",)
WRITES = ("append", "merge", "delete_keys", "update_where", "compact")
READS = ("read_point",) * 8 + ("read_scan",) * 6 + ("read_asof",) * 6
_P, _S, _A = "read_point", "read_scan", "read_asof"
# every write and the query followed by three or four reads
CYCLE = (
    "append", _P, _S, _A, _P,
    "merge", _S, _A, _P,
    "graph_pagerank", _S, _A, _P,
    "delete_keys", _S, _A, _P,
    "update_where", _S, _A, _P, _P,
    "compact", _S, _A, _P,
)
assert sorted(CYCLE) == sorted(QUERIES + WRITES + READS)
KEY = "l_id"
COLS = (KEY, "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus")
SCHEMA = (
    f"{KEY} BIGINT, l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE, "
    "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING"
)
APPEND_ROWS, MERGE_ROWS, DELETE_KEYS = 400, 200, 40
# model tuple positions
Q, TAX, FLAG, PART = 3, 6, 7, 2


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns by name, each value
    rendered canonically (floats by repr), rows sorted as strings."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def render(v) -> str:
        if v is None:
            return "\\N"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, list):
            return "[" + ",".join(render(x) for x in v) + "]"
        return str(v)

    h = hashlib.md5()
    for line in sorted("\x1f".join(render(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _kind(op: str) -> str:
    return "query" if op in QUERIES else ("write" if op in WRITES else "read")


class LakehouseAnalyst:
    name = "lakehouse_analyst"

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")
        self.table = os.path.join(ctx.work, "lake", "lineitem")
        self.rng = np.random.default_rng(ctx.seed)
        self.ops: list[dict] = []  # one record per timed op
        self.errors: list[str] = []
        self.hashes: dict[str, set[str]] = {}
        self.versions: list[tuple[float, tuple]] = []  # (commit time, model summary)

    # -- inputs -----------------------------------------------------------
    def prepare(self) -> None:
        tables = datagen.tables(self.ctx.seed, SF)
        self.table_names = list(tables)
        os.makedirs(self.data, exist_ok=True)
        for name, t in tables.items():
            pq.write_table(t, os.path.join(self.data, f"{name}.parquet"))
        li = tables["lineitem"]
        src = pa.table(
            [pa.array(np.arange(li.num_rows), pa.int64())] + [li[c] for c in COLS[1:]], names=list(COLS)
        )
        self.source = os.path.join(self.ctx.work, "lake_source.parquet")
        pq.write_table(src, self.source)
        self.model = {r[0]: r for r in zip(*(src[c].to_pylist() for c in COLS))}
        self.next_id = li.num_rows

    def close(self) -> None:
        pass

    def failures(self) -> list[str]:
        return [r["failed"] for r in self.ops if "failed" in r]

    # -- helpers ----------------------------------------------------------
    def _new_rows(self, n: int) -> list[tuple]:
        r = self.rng
        rows = []
        for _ in range(n):
            rows.append((
                self.next_id, int(r.integers(0, 15_000)), int(r.integers(0, 2_000)),
                float(r.integers(1, 51)), round(float(r.uniform(900, 105_000)), 2),
                int(r.integers(0, 11)) / 100.0, int(r.integers(0, 9)) / 100.0,
                ("A", "N", "R")[int(r.integers(0, 3))], ("F", "O")[int(r.integers(0, 2))],
            ))
            self.next_id += 1
        return rows

    def _live_ids(self, n: int) -> list[int]:
        keys = sorted(self.model)
        return sorted(int(keys[i]) for i in self.rng.choice(len(keys), n, replace=False))

    def _committed(self) -> None:
        v = SNAP.main_versions(self.table)[-1]
        t = os.path.getmtime(os.path.join(self.table, "_manifests", f"v{v}.json"))
        self.versions.append((t, (len(self.model), sum(r[Q] for r in self.model.values()))))

    # -- the operations ---------------------------------------------------
    def _call(self, op: str, rec: dict):
        """Runs one op under its span; returns (span, (got, want)) where
        the pair is compared after the span closed."""
        spark, tracer, model = self.ctx.spark, self.ctx.tracer, self.model
        if op in QUERIES:
            with tracer.span(f"q.{op}") as top:
                with tracer.span(f"q.{op}.build") as b:
                    df = self.queries[op](spark, self.data)
                with tracer.span(f"q.{op}.exec") as e:
                    rows = [tuple(r) for r in df.collect()]
            rec.update(build_s=b.wall, exec_s=e.wall)
            self.hashes.setdefault(op, set()).add(result_hash(list(df.columns), rows))
            return top, None
        if op == "append":
            rows = self._new_rows(APPEND_ROWS)
            df = spark.createDataFrame(rows, SCHEMA)
            with tracer.span("snap.append") as top:
                SNAP.write_version(df, self.table, mode="append")
            model.update((r[0], r) for r in rows)
            return top, None
        if op == "merge":
            fixes = [model[i][:Q] + (model[i][Q] + 1.0,) + model[i][Q + 1:] for i in self._live_ids(MERGE_ROWS // 2)]
            src = fixes + self._new_rows(MERGE_ROWS - len(fixes))
            df = spark.createDataFrame(src, SCHEMA)
            with tracer.span("snap.merge") as top:
                SNAP.merge_into(spark, self.table, df, [KEY])
            model.update((r[0], r) for r in src)
            return top, None
        if op == "delete_keys":
            ids = self._live_ids(DELETE_KEYS)
            with tracer.span("snap.delete_keys") as top:
                SNAP.delete_keys(spark, self.table, KEY, ids)
            for i in ids:
                del model[i]
            return top, None
        if op == "update_where":
            k = int(self.rng.integers(0, 50))
            with tracer.span("snap.update_where") as top:
                SNAP.update_where(
                    spark, self.table, f"l_partkey % 50 = {k} AND l_returnflag = 'N'", {"l_tax": "l_tax + 0.01"}
                )
            for i, r in list(model.items()):
                if r[PART] % 50 == k and r[FLAG] == "N":
                    model[i] = r[:TAX] + (r[TAX] + 0.01,) + r[TAX + 1:]
            return top, None
        if op == "compact":
            with tracer.span("snap.compact") as top:
                SNAP.compact(spark, self.table, target_files=4)
            return top, None
        if op == "read_point":
            key = self._live_ids(1)[0]
            with tracer.span("snap.read_point") as top:
                got = SNAP.read_version(spark, self.table).where(F.col(KEY) == key).collect()
            rec["key"] = key
            return top, ([tuple(r) for r in got], [model[key]])
        if op == "read_scan":
            with tracer.span("snap.read_scan") as top:
                got = (
                    SNAP.read_version(spark, self.table)
                    .groupBy("l_returnflag")
                    .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
                    .collect()
                )
            want: dict[str, list] = {}
            for r in model.values():
                w = want.setdefault(r[FLAG], [0, 0.0])
                w[0] += 1
                w[1] += r[Q]
            return top, (sorted(tuple(r) for r in got), sorted((f, n, q) for f, (n, q) in want.items()))
        if op == "read_asof":
            # the state three commits back, found by its commit time
            t, summary = self.versions[max(0, len(self.versions) - 3)]
            with tracer.span("snap.read_asof") as top:
                got = SNAP.read_version_as_of(spark, self.table, t).agg(F.count("*"), F.sum("l_quantity")).first()
            return top, (tuple(got), summary)
        raise ValueError(f"unknown op {op!r}")

    def _run(self, op: str, timed: bool) -> None:
        rec = {"op": op, "kind": _kind(op)}
        try:
            top, check = self._call(op, rec)
        except Exception as exc:  # noqa: BLE001 - counted, never retried
            rec["failed"] = java_error_class(exc)
            self.errors.append(f"{op} failed: {rec['failed']}: {str(exc)[:300]}")
        else:
            rec["wall_s"] = top.wall
            rec["spans"] = (top.idx, len(self.ctx.tracer.spans))
            if rec["kind"] == "write":
                self._committed()
            if check is not None and check[0] != check[1]:
                self.errors.append(f"{op}: read {check[0]!r} != model {check[1]!r}")
        if timed:
            self.ops.append(rec)

    # -- set-up, window ---------------------------------------------------
    def setup(self) -> None:
        self.queries = registry.queries()
        df = self.ctx.spark.read.schema(SCHEMA).parquet(self.source)
        with self.ctx.tracer.span("snap.create"):
            SNAP.write_version(
                df, self.table, mode="append", unique_keys=[KEY], bloom_cols=[KEY], stats_cols=[KEY, "l_partkey"]
            )
        self._committed()
        # warm cycle, each operation once: caches fill, plans compile
        for op in dict.fromkeys(CYCLE):
            self._run(op, timed=False)

    def measure(self, seconds: float) -> None:
        """Whole cycles, as many as come closest to ``seconds``."""
        t0 = time.perf_counter()
        self.cycles = 0
        elapsed = cycle_s = 0.0
        while self.cycles == 0 or elapsed + cycle_s / 2 < seconds:
            for op in CYCLE:
                self._run(op, timed=True)
            self.cycles += 1
            cycle_s = time.perf_counter() - t0 - elapsed
            elapsed += cycle_s
        self.window_s = elapsed

    # -- correctness ------------------------------------------------------
    def verify(self) -> list[str]:
        errors = list(self.errors)
        oracles = registry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.table_names:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for q, hs in self.hashes.items():
                if len(hs) != 1:
                    errors.append(f"{q}: {len(hs)} different results across cycles")
                res = con.execute(oracles[q])
                if hs != {result_hash([d[0] for d in res.description], res.fetchall())}:
                    errors.append(f"{q}: result hash differs from the DuckDB oracle")
        finally:
            con.close()
        final = SNAP.read_version(self.ctx.spark, self.table).select(*COLS).toPandas()
        got = sorted(
            (int(r[0]), int(r[1]), int(r[2])) + tuple(r[3:]) for r in final.itertuples(index=False, name=None)
        )
        if got != sorted(self.model.values()):
            errors.append(f"final table ({len(got)} rows) != model ({len(self.model)} rows)")
        return errors

    # -- metrics ----------------------------------------------------------
    def _latencies(self, kind: str | None = None) -> list[float]:
        # a failed op counts as missing every limit: it gets the window
        return [1000.0 * r.get("wall_s", self.window_s) for r in self.ops if kind in (None, r["kind"])]

    def results(self) -> dict:
        extra = {"cycles": (self.cycles, "count"), "window_s": (self.window_s, "s")}
        for kind in ("query", "write", "read"):
            xs = self._latencies(kind)
            extra[f"{kind}.latency_p50_ms"] = (percentile(xs, 50), "ms")
            extra[f"{kind}.latency_p90_ms"] = (percentile(xs, 90), "ms")
        # the latency a reader of the table sees beside the writer; the
        # writes and queries show in throughput and the per-kind lines
        return {
            "samples": self._latencies("read"),
            "throughput": len(self.ops) / self.window_s,
            "attempted": len(self.ops),
            "failed": sum(1 for r in self.ops if "failed" in r),
            "extra": extra,
        }

    def layers(self) -> dict:
        tracer = self.ctx.tracer
        tracer.finish()
        ok = [r for r in self.ops if "wall_s" in r]
        for r in ok:
            r.update(tracer.counts(*r["spans"]))
        out: dict[str, tuple[float, str]] = {
            "spark.jobs_per_op": (sum(r["jobs"] for r in ok) / len(ok), "count"),
            "spark.tasks_per_op": (sum(r["tasks"] for r in ok) / len(ok), "count"),
        }
        for op in dict.fromkeys(QUERIES + WRITES + READS):
            rs = [r for r in ok if r["op"] == op]
            layer = f"q.{op}" if op in QUERIES else f"snap.{op}"
            out[f"{layer}.s_p50"] = (median([r["wall_s"] for r in rs]), "s")
            out[f"{layer}.jobs"] = (median([r["jobs"] for r in rs]), "count")
            out[f"{layer}.tasks"] = (median([r["tasks"] for r in rs]), "count")
            if op in QUERIES:
                out[f"q.{op}.build_s"] = (median([r["build_s"] for r in rs]), "s")
                out[f"q.{op}.exec_s"] = (median([r["exec_s"] for r in rs]), "s")
        # on the final table, for the keys the window looked up that are
        # still live: each sits in exactly one file
        keys = [r["key"] for r in ok if r["op"] == "read_point" and r["key"] in self.model] or [min(self.model)]
        out["snap.point_files_per_hit"] = (
            median([len(SNAP.select_files_point(self.table, None, KEY, [k])[0]) for k in keys]), "ratio")
        head = SNAP.main_versions(self.table)[-1]
        out["snap.manifest_bytes"] = (os.path.getsize(os.path.join(self.table, "_manifests", f"v{head}.json")), "bytes")
        live = SNAP.history(self.table)[-1]["n_bytes"] or 1
        disk = sum(
            os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(os.path.join(self.table, "data")) for n in ns
        )
        out["snap.disk_bytes_per_live_byte"] = (disk / live, "ratio")
        return out
