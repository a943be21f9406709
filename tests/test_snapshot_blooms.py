"""Manifest bloom filters + the bloom-pruned point-delete fast path
(operators/snapshots.py: bloom_cols / select_files_point / delete_keys).

Contract under test: blooms are an I/O optimization, never a filter —
a "skip" is always safe (no false negatives by construction of the
k-hash probe), files without blooms stay candidates, and the blooms
follow the table through appends, compactions and rewrites."""

from __future__ import annotations

import pytest

from binance_etl_spark.operators import snapshots as SNAP


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _ids(spark, lo, hi, parts=4):
    return (
        spark.range(lo, hi)
        .selectExpr("id", "CAST(id % 5 AS STRING) AS grp")
        .repartitionByRange(parts, "id")
    )


def test_bloom_point_skipping(spark, table):
    SNAP.write_version(_ids(spark, 0, 1000), table, bloom_cols=["id"])
    m = SNAP._load_manifest(table, 1)
    assert m["bloom_cols"] == ["id"] and m["bloom_indexes"]
    entries = SNAP._load_bloom_entries(table, m)
    covered = {f for (f, c) in entries}
    assert covered == {SNAP.os.path.normpath(f) for f in m["files"]}
    cand, skipped = SNAP.select_files_point(table, None, "id", [7])
    # key 7 lives in exactly one range file; blooms prune the rest
    assert len(cand) >= 1 and len(skipped) >= 1
    assert len(cand) + len(skipped) == len(m["files"])
    # the file that truly holds the key is always a candidate (no
    # false negatives): deleting via the pruned path must erase it
    v = SNAP.delete_keys(spark, table, "id", [7])
    got = SNAP.read_version(spark, table, v)
    assert got.where("id = 7").count() == 0
    assert got.count() == 999


def test_bloom_absent_key_prunes_everything(spark, table):
    SNAP.write_version(_ids(spark, 0, 1000), table, bloom_cols=["id"])
    cand, skipped = SNAP.select_files_point(table, None, "id", [10_000_000])
    # an absent key should (with ~2% FPR per file) skip nearly all
    # files; correctness needs none of that — just no false negatives
    assert len(skipped) >= 1
    # delete of an absent key commits a carry-everything no-op version
    v = SNAP.delete_keys(spark, table, "id", [10_000_000])
    m = SNAP._load_manifest(table, v)
    assert m["rewrote"] == 0
    assert SNAP.read_version(spark, table, v).count() == 1000


def test_blooms_inherited_by_appends(spark, table):
    SNAP.write_version(_ids(spark, 0, 500), table, bloom_cols=["id"])
    SNAP.write_version(_ids(spark, 500, 1000), table)  # no bloom_cols arg
    m = SNAP._load_manifest(table, 2)
    entries = SNAP._load_bloom_entries(table, m)
    covered = {f for (f, c) in entries}
    assert covered >= {SNAP.os.path.normpath(f) for f in m["files"]}, (
        "append must keep building blooms over the table's bloom columns"
    )
    cand, skipped = SNAP.select_files_point(table, None, "id", [750])
    assert len(skipped) >= 1


def test_delete_keys_without_blooms_degrades_to_full_scan(spark, table):
    SNAP.write_version(_ids(spark, 0, 100), table)  # no blooms at all
    v = SNAP.delete_keys(spark, table, "id", [3, 4])
    m = SNAP._load_manifest(table, v)
    assert m["bloom_pruned"] == 0
    got = SNAP.read_version(spark, table, v)
    assert got.count() == 98 and got.where("id IN (3,4)").count() == 0


def test_delete_keys_minimal_rewrite_and_prune_evidence(spark, table):
    SNAP.write_version(_ids(spark, 0, 1000), table, bloom_cols=["id"])
    m1 = SNAP._load_manifest(table, 1)
    v = SNAP.delete_keys(spark, table, "id", [42])
    m2 = SNAP._load_manifest(table, v)
    # only the file(s) holding key 42 rewrite; the rest carry by name
    assert m2["rewrote"] >= 1
    assert m2["bloom_pruned"] >= 1
    carried = set(m1["files"]) & set(m2["files"])
    assert len(carried) == m2["carried"]
    # rewritten files got FRESH blooms (structural check: the index
    # union covers every file in the new snapshot)
    entries = SNAP._load_bloom_entries(table, m2)
    covered = {f for (f, c) in entries}
    assert covered >= {SNAP.os.path.normpath(f) for f in m2["files"]}


def test_blooms_survive_compaction(spark, table):
    SNAP.write_version(_ids(spark, 0, 300, parts=3), table, bloom_cols=["id"])
    SNAP.write_version(_ids(spark, 300, 600, parts=3), table)
    v = SNAP.compact(spark, table, target_files=2)
    m = SNAP._load_manifest(table, v)
    entries = SNAP._load_bloom_entries(table, m)
    covered = {f for (f, c) in entries}
    assert covered >= {SNAP.os.path.normpath(f) for f in m["files"]}
    cand, skipped = SNAP.select_files_point(table, None, "id", [5])
    assert len(cand) >= 1
    assert SNAP.read_version(spark, table, v).count() == 600


def test_bloom_string_keys(spark, table):
    df = spark.range(0, 400).selectExpr(
        "CONCAT('user-', id) AS uid", "id AS n"
    ).repartitionByRange(4, "n")
    SNAP.write_version(df, table, bloom_cols=["uid"])
    cand, skipped = SNAP.select_files_point(table, None, "uid", ["user-17"])
    assert len(skipped) >= 1
    v = SNAP.delete_keys(spark, table, "uid", ["user-17", "user-350"])
    got = SNAP.read_version(spark, table, v)
    assert got.count() == 398
    assert got.where("uid IN ('user-17','user-350')").count() == 0


@pytest.mark.parametrize("path", ["driver", "jvm_vals", "jvm"])
def test_jvm_position_builder_matches_hashlib_reference(
    spark, table, path, monkeypatch
):
    """The size-switched builder has three value paths: the driver
    builder reading pyarrow columns, the driver builder folding one
    collect of JVM-spelled values, and the distributed JVM-codegen-
    position + numpy-scatter builder; the probe side hashes in Python.
    Pin BYTE equality of the written bitmaps against a pure-Python
    hashlib reference build FOR ALL THREE so the contract can never
    drift silently — including NULL keys (skipped), string keys, and
    int keys. The reference hashes on its own, not through the
    module's kernel, so a kernel change cannot move both sides."""
    import hashlib
    import os

    if path == "jvm":
        monkeypatch.setattr(SNAP, "_BLOOM_DRIVER_ROWS_MAX", 0)
    else:
        monkeypatch.setattr(SNAP, "_BLOOM_DRIVER_ROWS_MAX", 1 << 60)
        if path == "jvm_vals":
            # force the driver builder's collect-values branch (the
            # one composite/exotic specs take)
            monkeypatch.setattr(SNAP, "_bloom_arrow_keys", lambda *a: False)
    df = spark.range(0, 500).selectExpr(
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CONCAT('u-', id) END AS uid",
        "id",
    ).repartitionByRange(3, "id")
    SNAP.write_version(df, table, bloom_cols=["uid", "id"])
    m = SNAP._load_manifest(table, 1)
    entries = SNAP._load_bloom_entries(table, m)
    assert entries, "bloom sidecar missing"
    # reference bitmaps from the file bytes via hashlib
    import pyarrow.parquet as pq

    for (f, col), (mm, k, bits) in entries.items():
        tbl = pq.read_table(os.path.join(table, f), columns=[col])
        ref = bytearray(mm // 8)
        for v in tbl.column(col).to_pylist():
            if v is None:
                continue
            val = str(v)
            for i in range(k):
                pos = (
                    int(hashlib.md5(f"{i}:{val}".encode()).hexdigest()[:8], 16)
                    % mm
                )
                ref[pos >> 3] |= 1 << (pos & 7)
        assert bytes(ref) == bits, (f, col)


def test_composite_tiny_builder_matches_distributed_fold(
    spark, tmp_path, monkeypatch
):
    """A tiny commit with a COMPOSITE bloom spec builds on the driver
    from one collect of JVM-spelled values. Its sidecar bytes must
    equal the distributed JVM-position builder's byte-for-byte (same
    data, same spec, NULL key components included) — the spelling
    contract lives in the JVM expr both ways, so any divergence is a
    fold or kernel bug."""
    df = spark.range(0, 300).selectExpr(
        "CASE WHEN id % 11 = 0 THEN NULL ELSE id END AS a",
        "CONCAT('s-', id % 13) AS b",
        "id AS payload",
    ).repartitionByRange(3, "payload")

    def build(table, force_distributed):
        if force_distributed:
            monkeypatch.setattr(SNAP, "_BLOOM_DRIVER_ROWS_MAX", 0)
        SNAP.write_version(df, table, bloom_cols=[("a", "b")])
        m = SNAP._load_manifest(table, 1)
        if force_distributed:
            monkeypatch.undo()
        return SNAP._load_bloom_entries(table, m)

    tiny = build(str(tmp_path / "tiny"), force_distributed=False)
    dist = build(str(tmp_path / "dist"), force_distributed=True)
    # filenames carry per-write UUIDs; range partitioning makes the
    # part INDEX the stable identity (same data, same 3-way split)
    norm = lambda e: {
        (f.rsplit("/", 1)[-1].split("-")[1], c): v
        for (f, c), v in e.items()
    }
    tn, dn = norm(tiny), norm(dist)
    assert set(tn) == set(dn) and tn, "same (file, spec) coverage"
    for key in tn:
        assert tn[key] == dn[key], key
