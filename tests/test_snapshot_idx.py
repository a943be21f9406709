"""main.idx.json checkpoint edge cases (operators/snapshots.py)."""

from __future__ import annotations


def test_corrupt_idx_rebuild_keeps_full_history(spark, tmp_path):
    """A missing/corrupt main.idx.json must be rebuilt from a FULL
    manifest scan at the next commit — seeding an empty idx and
    stamping last=v would hide every earlier main version from
    idx-answered reads."""
    import os

    from binance_etl_spark.operators import snapshots as SNAP

    t = str(tmp_path / "tbl")
    SNAP.write_version(spark.range(0, 5).selectExpr("id", "id AS v"), t)
    for i in range(3):
        SNAP.write_version(
            spark.range(i * 10, i * 10 + 2).selectExpr("id", "id AS v"),
            t,
            mode="append",
        )
    full = SNAP.main_versions(t)
    assert len(full) == 4
    idx_path = os.path.join(SNAP._manifest_dir(t), SNAP._MAIN_IDX)
    os.remove(idx_path)  # simulate corruption/loss
    SNAP.write_version(
        spark.range(100, 102).selectExpr("id", "id AS v"), t, mode="append"
    )
    rebuilt = SNAP.main_versions(t)
    assert rebuilt == full + [rebuilt[-1]]
    # and the idx itself (not just the scan fallback) answers fully
    import json

    idx = json.load(open(idx_path))
    assert idx["main"] == rebuilt and idx["last"] == rebuilt[-1]


def test_idx_rebuild_repopulates_batch_ids(spark, tmp_path):
    """Losing main.idx.json must not forget streaming replay tokens:
    the rebuild scans every manifest anyway, so batch_id entries
    (lane-namespaced for branch commits) must be repopulated. Without
    this, _find_batch_commit / write_branch only tail-scan manifests
    NEWER than the rebuilt `last`, so a replayed micro-batch whose
    commit predates the rebuild would re-apply — duplicating rows and
    breaking the exactly-once promise."""
    import json
    import os

    from binance_etl_spark.operators import snapshots as SNAP

    t = str(tmp_path / "tbl")
    df = spark.range(0, 4).selectExpr("id", "id AS v")
    SNAP.write_version(df, t)
    v_b0 = SNAP.write_version(df, t, mode="append", batch_id=0)
    SNAP.create_branch(t, "audit")
    v_br0 = SNAP.write_branch(df, t, "audit", batch_id=0)
    # a later plain commit so the rebuilt `last` exceeds the batch commits
    SNAP.write_version(df, t, mode="append")

    idx_path = os.path.join(SNAP._manifest_dir(t), SNAP._MAIN_IDX)
    os.remove(idx_path)  # simulate idx loss
    n_before = SNAP.read_version(spark, t).count()
    # next commit triggers the rebuild
    SNAP.write_version(df, t, mode="append")

    idx = json.load(open(idx_path))
    assert idx["batch_ids"].get("0") == v_b0
    assert idx["batch_ids"].get("branch:audit:0") == v_br0

    # replays of the pre-rebuild batches must be no-ops
    assert SNAP.write_version(df, t, mode="append", batch_id=0) == v_b0
    assert SNAP.write_branch(df, t, "audit", batch_id=0) == v_br0
    n_after = SNAP.read_version(spark, t).count()
    assert n_after == n_before + 4  # only the one real append landed


def test_concurrent_idx_updates_lose_no_version(tmp_path):
    """Claims serialize committers only up to _await_predecessors'
    timeout, so two committers can advance main.idx.json at once; every
    version each of them records must survive the other's rewrite."""
    import os
    import sys
    import threading

    from binance_etl_spark.operators import snapshots as SNAP

    t = str(tmp_path / "tbl")
    os.makedirs(SNAP._manifest_dir(t))
    SNAP._update_main_idx(t, 1, is_main=True)
    writers, per_writer = 8, 25
    errors: list[BaseException] = []

    def advance(w: int) -> None:
        try:
            for i in range(per_writer):
                SNAP._update_main_idx(t, 2 + w + writers * i, is_main=True)
        except Exception as exc:  # reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=advance, args=(w,)) for w in range(writers)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    idx = SNAP._load_main_idx(t)
    assert idx["main"] == list(range(1, 2 + writers * per_writer))
