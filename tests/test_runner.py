"""Config-driven runner smoke (reference boot path twin, main.py:25-33)
and DLQ quarantine stream."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from binance_etl_spark.runner import parse_event_id, start_jobs
from binance_etl_spark.schemas import DECIMAL
from binance_etl_spark.sources import fixtures as FX
from binance_etl_spark.sources.replay import read_replay
from binance_etl_spark.streaming.book_sync import book_sync_batch
from binance_etl_spark.streaming.book_sync_futures import (
    book_sync_batch_futures,
    parse_depth_updates_futures,
)
from binance_etl_spark.streaming.parse import parse_depth_updates
from binance_etl_spark.streaming.pipelines import (
    depth_stream,
    quarantine_stream,
    stop_all,
    stream_shuffle_partitions,
    write_table_stream,
)

SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def test_parse_event_id():
    spec = parse_event_id("binance.spot.bnbusdt.trade")
    assert (spec.exchange, spec.market, spec.symbol, spec.event_type) == (
        "binance", "spot", "bnbusdt", "trade",
    )
    # the reference STUBS these exact market ids (factory.py:26-29
    # falls through to a raise); the engine implements them — the
    # futures depth path runs the pu-continuity sync protocol
    # (streaming/book_sync_futures.py, tests/test_book_sync_futures.py)
    fut = parse_event_id("binance.usdm_futures.btcusdt.trade")
    assert fut.market == "usdm_futures"
    assert parse_event_id("binance.coinm_futures.btcusd_perp.depth").market == (
        "coinm_futures"
    )
    with pytest.raises(ValueError):
        parse_event_id("binance.spot.btcusdt.klines")
    with pytest.raises(ValueError):
        parse_event_id("not-an-event-id")


def test_runner_end_to_end(spark):
    d = tempfile.mkdtemp(prefix="besk_runner_")
    paths = FX.write_fixtures(d)
    out = d + "/out"
    config = {
        "events": [
            f"binance.spot.{FX.SYMBOL.lower()}.trade",
            f"binance.spot.{FX.SYMBOL.lower()}.depth",
        ],
        "storage": {"format": "parquet", "output_path": out},
        "sources": {
            f"{FX.SYMBOL.lower()}.trade": paths["trades"],
            f"{FX.SYMBOL.lower()}.depth": paths["depth"],
        },
        "snapshots": {FX.SYMBOL: FX.snapshot()},
    }
    queries = start_jobs(spark, config)
    assert len(queries) == 2
    for q in queries:
        q.processAllAvailable()
    stop_all(spark)
    sym = FX.SYMBOL.lower()
    trades = spark.read.parquet(f"{out}/spot/{sym}/trades")
    depth = spark.read.parquet(f"{out}/spot/{sym}/depth")
    assert trades.count() == 10
    assert depth.count() == 16
    assert depth.where("is_snapshot").count() == 6


def test_runner_two_symbols_no_shared_sink_loss(spark):
    # Two symbols on the same event type must NOT share a sink: a
    # shared FileStreamSink _spark_metadata log would make the second
    # query see its batch 0 as already committed and silently drop its
    # data (round-1 advisory). Per-symbol sink paths make each query's
    # commit log private.
    d = tempfile.mkdtemp(prefix="besk_runner2_")
    paths = FX.write_fixtures(d)
    out = d + "/out"
    config = {
        "events": ["binance.spot.aaausdt.trade", "binance.spot.bbbusdt.trade"],
        "storage": {"format": "parquet", "output_path": out},
        "sources": {
            "aaausdt.trade": paths["trades"],
            "bbbusdt.trade": paths["trades"],
        },
    }
    queries = start_jobs(spark, config)
    assert len(queries) == 2
    for q in queries:
        q.processAllAvailable()
    stop_all(spark)
    a = spark.read.parquet(out + "/spot/aaausdt/trades")
    b = spark.read.parquet(out + "/spot/bbbusdt/trades")
    assert a.count() == 10  # both symbols keep ALL their rows
    assert b.count() == 10


def test_quarantine_stream(spark):
    d = tempfile.mkdtemp(prefix="besk_dlq_")
    paths = FX.write_fixtures(d)
    dlq = quarantine_stream(spark, paths["trades"], max_frames=100)
    q = dlq.writeStream.format("memory").queryName("mem_dlq").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    rows = spark.table("mem_dlq").collect()
    # trades fixture: 1 subscribe ack (valid JSON, no event type) +
    # 1 malformed frame -> both quarantined, none lost
    assert len(rows) == 2
    frames = sorted(r.frame for r in rows)
    assert any("result" in f for f in frames)  # the ack
    assert any(not f.endswith("}") for f in frames)  # the truncated frame


def test_progress_monitor_collects_batches(spark):
    from binance_etl_spark.streaming import monitor as M
    from binance_etl_spark.streaming.pipelines import trades_stream

    d = tempfile.mkdtemp(prefix="besk_mon_")
    paths = FX.write_fixtures(d)
    mon = M.attach(spark)
    try:
        df = trades_stream(spark, paths["trades"], max_frames=100)
        q = (
            df.writeStream.format("memory")
            .queryName("mem_mon")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(10)
        assert mon.wait_for_batches(1)  # listener bus delivers async
    finally:
        M.detach(spark, mon)
    hist = mon.snapshot(spark)
    rows = hist.collect()
    assert len(rows) >= 1  # at least one micro-batch progressed
    assert sum(r.num_input_rows for r in rows) >= 10  # all fixture trades seen
    assert str(mon.started) != "[]"


def test_runner_snapshot_storage_provider(spark):
    """storage.format='snapshot': the runner lands each micro-batch as
    a VERSION of a snapshot-log table — same rows as the parquet sink,
    plus time travel / metadata counts / exactly-once batch tokens on
    the live ingestion table."""
    from binance_etl_spark.operators import snapshots as SNAP

    d = tempfile.mkdtemp(prefix="besk_runner_snap_")
    paths = FX.write_fixtures(d)
    out = d + "/out"
    config = {
        "events": [f"binance.spot.{FX.SYMBOL.lower()}.trade"],
        "storage": {"format": "snapshot", "output_path": out},
        "sources": {f"{FX.SYMBOL.lower()}.trade": paths["trades"]},
    }
    queries = start_jobs(spark, config)
    for q in queries:
        q.processAllAvailable()
    stop_all(spark)
    table = f"{out}/spot/{FX.SYMBOL.lower()}/trades"
    got = SNAP.read_version(spark, table)
    assert got.count() == 10
    assert SNAP.count_rows(table) == 10  # metadata-only
    vs = SNAP.versions(table)
    assert vs, "at least one committed version"
    m = SNAP._load_manifest(table, vs[0])
    assert "batch_id" in m  # exactly-once replay token recorded


def _state_partitions(q) -> set[tuple[int, int]]:
    """(numShufflePartitions, numStateStoreInstances) over every
    progress of ``q`` that reports a stateful operator."""
    return {
        (op.numShufflePartitions, op.numStateStoreInstances)
        for p in q.recentProgress
        for op in p.stateOperators
    }


def _depth_want(spark, spool: str, market: str):
    """Batch recompute of a depth spool, typed like the landed rows."""
    frames = read_replay(spark, spool)
    if market == "spot":
        want = book_sync_batch(parse_depth_updates(frames), {FX.SYMBOL: FX.snapshot()})
    else:
        want = book_sync_batch_futures(
            parse_depth_updates_futures(frames), {FX.FUT_SYMBOL: FX.futures_snapshot()}
        )
    return want.withColumn("price", F.col("price").cast(DECIMAL)).withColumn(
        "quantity", F.col("quantity").cast(DECIMAL)
    )


def _rows_equal(got, want) -> None:
    got_rows = sorted(got.collect())
    want_rows = sorted(want.select(*got.columns).collect())
    assert got_rows == want_rows


def test_runner_depth_queries_run_one_state_partition(spark, tmp_path):
    """Each runner query serves one symbol, so it starts with ONE
    state partition whatever the session's shuffle.partitions — and
    the session's own value is left as it was."""
    paths = FX.write_fixtures(str(tmp_path))
    out = str(tmp_path / "out")
    spot, fut = FX.SYMBOL.lower(), FX.FUT_SYMBOL.lower()
    config = {
        "events": [f"binance.spot.{spot}.depth", f"binance.usdm_futures.{fut}.depth"],
        "storage": {"format": "parquet", "output_path": out},
        "sources": {f"{spot}.depth": paths["depth"], f"{fut}.depth": paths["futures_depth"]},
        "snapshots": {FX.SYMBOL: FX.snapshot(), FX.FUT_SYMBOL: FX.futures_snapshot()},
        "max_frames": 2,  # several micro-batches: state crosses triggers
    }
    prior = spark.conf.get(SHUFFLE_KEY)
    spark.conf.set(SHUFFLE_KEY, "3")  # any session value but 1 shows the rule
    try:
        queries = start_jobs(spark, config)
        assert spark.conf.get(SHUFFLE_KEY) == "3"
        for q in queries:
            q.processAllAvailable()
        for q in queries:
            assert _state_partitions(q) == {(1, 1)}
    finally:
        stop_all(spark)
        spark.conf.set(SHUFFLE_KEY, prior)
    _rows_equal(
        spark.read.parquet(f"{out}/spot/{spot}/depth"),
        _depth_want(spark, paths["depth"], "spot"),
    )
    _rows_equal(
        spark.read.parquet(f"{out}/usdm_futures/{fut}/depth"),
        _depth_want(spark, paths["futures_depth"], "usdm_futures"),
    )


def test_runner_restart_keeps_checkpointed_state_partitions(spark, tmp_path):
    """A depth checkpoint written under 4 state partitions resumes
    through the runner with 4 (the count is fixed at the first
    checkpoint), and lands every row exactly once across the restart."""
    paths = FX.write_fixtures(str(tmp_path))
    with open(paths["depth"]) as f:
        lines = f.readlines()
    spool = str(tmp_path / "spool.jsonl")
    with open(spool, "w") as f:
        f.writelines(lines[:3])  # stale + bridge + steady frames
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sym = FX.SYMBOL.lower()
    table = os.path.join(out, "spot", sym, "depth")
    snapshots = {FX.SYMBOL: FX.snapshot()}

    with stream_shuffle_partitions(spark, 4):
        q = write_table_stream(
            depth_stream(spark, spool, snapshots, max_frames=2),
            table,
            os.path.join(ckpt, "spot", sym, "depth"),
        )
    try:
        q.processAllAvailable()
        assert _state_partitions(q) == {(4, 4)}
    finally:
        q.stop()
    first = spark.read.parquet(table).count()
    assert first > 0

    with open(spool, "a") as f:
        f.writelines(lines[3:])
    config = {
        "events": [f"binance.spot.{sym}.depth"],
        "storage": {"format": "parquet", "output_path": out, "checkpoint_path": ckpt},
        "sources": {f"{sym}.depth": spool},
        "snapshots": snapshots,
        "max_frames": 2,
    }
    (q2,) = start_jobs(spark, config)
    try:
        q2.processAllAvailable()
        assert _state_partitions(q2) == {(4, 4)}
        assert q2.recentProgress[0].batchId > 0  # resumed, not re-run
    finally:
        stop_all(spark)
    landed = spark.read.parquet(table)
    assert landed.count() > first
    _rows_equal(landed, _depth_want(spark, spool, "spot"))
