"""Streaming source over the snapshot commit log — the Delta
streaming-source shape: a Structured Streaming query tails a snapshot
table, each micro-batch serving the rows APPENDED by newly committed
versions (offset = version number, checkpointed/restarted like any
source). This closes the table-format loop: foreach_batch_snapshot
writes a table, this streams it onward — the medallion hop
(bronze table -> readStream -> silver) without any external system.

Semantics (matching Delta's modern options):
- append commits stream exactly their ADDED files' rows, tagged with
  `_commit_version` (the CDF column consumers key retries on);
- rewrite commits (delete/merge/compact) RAISE by default — silently
  treating a rewrite as an append would re-serve carried rows; with
  ``skipChangeCommits=true`` they are skipped entirely (Delta's
  option of the same name) and `snapshots.read_changes` is the batch
  path for consumers that need the deletes;
- the stream's schema is the LATEST manifest's versioned schema; files
  from before an additive evolution serve NULL for later columns.

Scale: partitions are one-per-added-file (the natural parallel unit;
executors read their parquet file directly — no driver data path);
pacing via ``maxVersionsPerBatch`` bounds admission per trigger. The
offset race Delta solves with log immutability holds here too:
versions are immutable once committed, so (start, end] is a stable
set of files regardless of when partitions() runs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StructField, StructType

# reuse the log helpers — single source of truth for manifest layout
from binance_etl_spark.operators.snapshots import (
    _load_manifest,
    _manifest_schema,
    versions,
)

_REWRITE_MODES = ("delete", "update", "merge", "compact", "overwrite")


class _FileSlice(InputPartition):
    def __init__(self, path: str, version: int, columns: list[str]):
        self.path = path
        self.version = version
        self.columns = columns


def _stream_schema(table_dir: str) -> StructType:
    vs = [
        v
        for v in versions(table_dir)
        if "branch" not in _load_manifest(table_dir, v)
    ]
    if not vs:
        raise FileNotFoundError(f"no committed snapshots in {table_dir}")
    schema = _manifest_schema(_load_manifest(table_dir, vs[-1]))
    if schema is None:
        raise ValueError(
            f"{table_dir}: latest manifest predates versioned schemas; "
            "recommit (any append) to enable streaming"
        )
    # every table column is nullable on the stream: files from before
    # an additive evolution legitimately serve NULL for later columns
    # (Delta relaxes nullability on its streaming schema the same way).
    relaxed = [StructField(f.name, f.dataType, True) for f in schema.fields]
    return StructType(relaxed + [StructField("_commit_version", LongType(), False)])


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: StructType):
        self.table_dir = options["path"]
        self.skip_change_commits = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        self.max_versions = int(options.get("maxversionsperbatch", 0))
        self.columns = [f.name for f in schema.fields if f.name != "_commit_version"]
        self._floor = 0

    def initialOffset(self) -> dict:
        # start BEFORE the first committed version: a fresh query
        # serves the whole table history, exactly like Delta's
        # startingVersion=0 default for a new checkpoint.
        return {"version": 0}

    def latestOffset(self) -> dict:
        vs = versions(self.table_dir)
        head = vs[-1] if vs else 0
        if self.max_versions > 0:
            # monotonic pacing: never go below anything already
            # returned, never past the true head. The engine asks for
            # the latest offset once before initialOffset reveals
            # whether a checkpoint exists, so that first answer must be
            # safe for a restart too.
            self._floor = min(max(self._floor + self.max_versions, 0), head)
            return {"version": max(self._floor, 0)}
        self._floor = max(self._floor, head)
        return {"version": head}

    def partitions(self, start: dict, end: dict):
        s, e = start["version"], end["version"]
        vs = versions(self.table_dir)
        out: list[_FileSlice] = []
        prev_files: set[str] | None = None
        for v in range(s + 1, e + 1):
            if v not in vs:
                continue  # crashed-commit hole in the version sequence
            m = _load_manifest(self.table_dir, v)
            if "branch" in m:
                # staged WAP branch commit: invisible to the main feed
                # until published (the publish commit then streams the
                # staged files as ordinary adds — prev_files untouched
                # here so the diff lands on the publish, not the stage)
                continue
            mode = m.get("mode", "append")
            is_base = v == vs[0]  # the table's first commit streams as-is
            if mode in _REWRITE_MODES and not is_base:
                if not self.skip_change_commits:
                    raise ValueError(
                        f"{self.table_dir}: v{v} is a {mode} commit; the "
                        "stream would re-serve carried rows. Pass "
                        "skipChangeCommits=true to skip rewrite commits "
                        "(read deletes via snapshots.read_changes)."
                    )
                prev_files = set(m["files"])
                continue
            if prev_files is None:
                earlier = [
                    pv
                    for pv in vs
                    if pv < v
                    and "branch" not in _load_manifest(self.table_dir, pv)
                ]
                prev_files = (
                    set(_load_manifest(self.table_dir, earlier[-1])["files"])
                    if earlier
                    else set()
                )
            added = [f for f in m["files"] if f not in prev_files]
            prev_files = set(m["files"])
            for rel in sorted(added):
                out.append(
                    _FileSlice(os.path.join(self.table_dir, rel), v, self.columns)
                )
        return out or [_FileSlice("", -1, self.columns)]

    def read(self, partition: _FileSlice):
        if partition.version < 0:
            return
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        present = set(pf.schema_arrow.names)
        want = [c for c in partition.columns if c in present]
        for batch in pf.iter_batches(columns=want):
            cols = {name: batch.column(name).to_pylist() for name in want}
            n = batch.num_rows
            series = [
                cols[c] if c in cols else [None] * n for c in partition.columns
            ]
            for row in zip(*series):
                yield (*row, partition.version)

    def commit(self, end: dict) -> None:
        self._floor = max(self._floor, end["version"])


class SnapshotChangesDataSource(DataSource):
    """spark.readStream.format("snapshot_changes").option("path", t)"""

    @classmethod
    def name(cls) -> str:
        return "snapshot_changes"

    def schema(self) -> StructType:
        return _stream_schema(self.options["path"])

    def streamReader(self, schema) -> SnapshotStreamReader:
        return SnapshotStreamReader(self.options, schema)


_REGISTERED: set[str] = set()


def register(spark) -> None:
    key = spark.sparkContext.applicationId
    if key not in _REGISTERED:
        spark.dataSource.register(SnapshotChangesDataSource)
        _REGISTERED.add(key)


def stream_snapshot(
    spark,
    table_dir: str,
    skip_change_commits: bool = False,
    max_versions_per_batch: int = 0,
):
    """Tail a snapshot table as a stream (see module docstring)."""
    register(spark)
    r = (
        spark.readStream.format("snapshot_changes")
        .option("path", os.fspath(table_dir))
        .option("skipChangeCommits", str(skip_change_commits).lower())
    )
    if max_versions_per_batch:
        r = r.option("maxVersionsPerBatch", str(max_versions_per_batch))
    return r.load()
