"""Tail-merge compaction on the driver (operators/snapshots.py).

`compact(min_file_bytes=M)` merges a small-file set of at most
_STAGE_COMPACT_MAX_BYTES with pyarrow (`_merge_parquet`) when a plain
concatenation is the rewrite; every other case — a deletion vector, an
evolved or retired column, a bigger set, a merge that does not verify —
takes the Spark rewrite and lands the same rows. The streaming sink
(`foreach_batch_snapshot(compact_every=N)`) compacts this way and keeps
its cadence in memory.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from binance_etl_spark.operators import snapshots as SNAP

M = SNAP._STAGE_COMPACT_MAX_BYTES


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _tail(spark, table: str, batches: int = 4) -> None:
    for b in range(batches):
        SNAP.write_version(
            spark.range(100 * b, 100 * b + 40).select(
                "id", (F.col("id") % 7).alias("v"), F.lit(f"s{b}").alias("s")
            ).repartition(3),
            table,
        )


def _spark_compact_jobs(spark, table: str, group: str, **kw):
    """Compact ``table`` and return (version, Spark job ids it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        v = SNAP.compact(spark, table, **kw)
    finally:
        sc.setJobGroup("", "")
    return v, list(sc.statusTracker().getJobIdsForGroup(group))


def test_small_tail_merges_on_the_driver_with_zero_spark_jobs(spark, tmp_path):
    table = str(tmp_path / "t")
    _tail(spark, table)
    v_before = SNAP.main_versions(table)[-1]
    before = SNAP._load_manifest(table, v_before)
    rows_before = _rows(SNAP.read_version(spark, table))

    v, jobs = _spark_compact_jobs(
        spark, table, "tail-merge-driver", min_file_bytes=M
    )

    assert jobs == [], f"a small tail merges with no Spark job, ran {jobs}"
    m = SNAP._load_manifest(table, v)
    assert m["mode"] == "compact" and v == v_before + 1
    assert m["rewrote"] == len(before["files"]) == 4 and m["carried"] == 0
    assert len(m["files"]) == 1 and m["files"][0].endswith("-merged.parquet")
    assert m["file_meta"][m["files"][0]]["rows"] == 160
    assert _rows(SNAP.read_version(spark, table)) == rows_before
    # the prior version still time-travels to the pre-compaction files
    old = SNAP.read_version(spark, table, version=v_before)
    opened = {
        os.path.relpath(p.removeprefix("file:"), table) for p in old.inputFiles()
    }
    assert opened == set(before["files"])
    assert _rows(old) == rows_before
    assert all(os.path.exists(os.path.join(table, f)) for f in before["files"])


def test_merged_file_keeps_spark_physical_types(spark, tmp_path):
    """A TIMESTAMP column is INT96 in Spark's files; pyarrow would write
    it back as INT64 nanos, which Spark cannot read as TIMESTAMP. The
    merge's schema check refuses that output, so both staging and the
    tail merge keep a readable layout."""
    table = str(tmp_path / "t")
    for b in range(3):
        SNAP.write_version(
            spark.range(b * 10, b * 10 + 10)
            .select(
                "id",
                F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts"),
                F.col("id").cast("decimal(10,2)").alias("d"),
            )
            .repartition(3),
            table,
        )
    expect = Counter(
        (i, i + 1_700_000_000) for i in range(30)
    )

    def landed():
        df = SNAP.read_version(spark, table)
        return Counter(
            (r.id, r.e) for r in df.select("id", F.unix_seconds("ts").alias("e")).collect()
        )

    assert landed() == expect
    SNAP.compact(spark, table, min_file_bytes=M)
    assert landed() == expect


@pytest.mark.parametrize("case", ["dv", "added", "retired", "big", "mismatch"])
def test_fallbacks_take_the_spark_path_with_the_same_rows(
    spark, tmp_path, monkeypatch, case
):
    table = str(tmp_path / "t")
    _tail(spark, table)
    if case == "dv":
        SNAP.delete_where_mor(spark, table, "id % 5 = 0")
    elif case == "added":
        SNAP.write_version(
            spark.range(900, 930).select(
                "id",
                (F.col("id") % 7).alias("v"),
                F.lit("x").alias("s"),
                F.lit(1.5).alias("extra"),
            ),
            table,
        )
    elif case == "retired":
        SNAP.drop_column(table, "s")
    elif case == "big":
        monkeypatch.setattr(SNAP, "_STAGE_COMPACT_MAX_BYTES", 1)
    elif case == "mismatch":
        _break_read_back(monkeypatch)
    rows_before = _rows(SNAP.read_version(spark, table))

    v, jobs = _spark_compact_jobs(
        spark, table, f"tail-merge-{case}", min_file_bytes=M
    )
    monkeypatch.undo()

    assert jobs, f"{case}: the Spark rewrite runs"
    m = SNAP._load_manifest(table, v)
    assert m["mode"] == "compact"
    assert not any(f.endswith("-merged.parquet") for f in m["files"])
    assert _rows(SNAP.read_version(spark, table)) == rows_before
    if case == "dv":
        assert "dv" not in m, "the Spark rewrite purges the deletion vector"


def _break_read_back(monkeypatch) -> None:
    """Make `_merge_parquet`'s read-back check fail: the merge writes
    for real, then the check reports a difference."""
    monkeypatch.setattr(SNAP, "_same_rows", lambda a, b: False)


def test_read_back_mismatch_removes_the_output(tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(3):
        p = str(tmp_path / f"in{i}.parquet")
        pq.write_table(pa.table({"a": [i, i + 1], "b": ["x", "y"]}), p)
        paths.append(p)
    out = str(tmp_path / "out.parquet")
    assert SNAP._merge_parquet(paths, out)
    assert pq.ParquetFile(out).read().column("a").to_pylist() == [0, 1, 1, 2, 2, 3]
    os.remove(out)
    _break_read_back(monkeypatch)
    assert SNAP._merge_parquet(paths, out) is False
    assert not os.path.exists(out)
    assert all(os.path.exists(p) for p in paths), "inputs stay in place"


def test_same_rows_ignores_batch_boundaries_only():
    import pyarrow as pa

    def batches(*cuts, values=tuple(range(10))):
        t = pa.table({"a": list(values)})
        edges = [0, *cuts, len(values)]
        return iter(
            b
            for lo, hi in zip(edges, edges[1:])
            for b in t.slice(lo, hi - lo).to_batches()
        )

    assert SNAP._same_rows(batches(5), batches(3, 3, 7))
    assert not SNAP._same_rows(
        batches(5), batches(3, values=(0, 1, 2, 3, 4, 5, 6, 7, 8, 0))
    )
    assert not SNAP._same_rows(batches(5), batches(values=tuple(range(11))))
    assert not SNAP._same_rows(batches(5), batches(values=(1, 0, *range(2, 10))))


def test_schema_mismatch_between_inputs_refuses_the_merge(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), a)
    pq.write_table(pa.table({"a": ["1", "2"]}), b)
    out = str(tmp_path / "out.parquet")
    assert SNAP._merge_parquet([a, b], out) is False
    assert not os.path.exists(out)


def test_staging_removes_parts_only_after_a_verified_merge(
    spark, tmp_path, monkeypatch
):
    df = spark.range(60).select("id", (F.col("id") % 3).alias("v"))
    staging = str(tmp_path / "s")
    df.repartition(3).write.parquet(staging)
    parts = sorted(
        os.path.join(staging, n) for n in os.listdir(staging) if n.endswith(".parquet")
    )
    monkeypatch.setattr(SNAP, "_merge_parquet", lambda paths, out: False)
    assert SNAP._compact_staged(staging, parts) is False
    assert all(os.path.exists(p) for p in parts), "unverified: parts stay"
    monkeypatch.undo()
    assert SNAP._compact_staged(staging, parts) is True
    left = [n for n in os.listdir(staging) if n.endswith(".parquet")]
    assert len(left) == 1 and left[0].endswith("-coalesced.parquet")
    assert not any(os.path.exists(p) for p in parts)
    assert not any(
        n.endswith(".parquet.crc") and "coalesced" not in n
        for n in os.listdir(staging)
    ), "the parts' checksum files go with them"
    assert spark.read.parquet(staging).count() == 60


def test_sink_cadence_parses_no_manifest_once_seeded(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    SNAP.write_version(spark.range(5), table)  # a restarted sink's history
    scans = []
    real = SNAP._appends_since_compact
    monkeypatch.setattr(
        SNAP, "_appends_since_compact", lambda t: scans.append(t) or real(t)
    )
    apply = SNAP.foreach_batch_snapshot(table, compact_every=3)
    for b in range(5):
        apply(spark.range(100 * b, 100 * b + 10), b)
    apply(spark.range(400, 410), 4)  # replayed batch: counts nothing
    assert scans == [table], "one seeding walk, then the count is in memory"
    modes = [
        SNAP._load_manifest(table, v)["mode"] for v in SNAP.main_versions(table)
    ]
    # seeded at 2 (v1 + batch 0), compacts at 3, then after 3 more
    assert modes == [
        "append", "append", "append", "compact", "append", "append", "append",
        "compact",
    ], modes
    assert SNAP.read_version(spark, table).count() == 55
