"""End-to-end streaming pipelines: replay/websocket frames ->
parse -> (book sync) -> checkpointed partitioned sink.

The engine twin of the reference's two ETLs (spot_trades_etl.py,
spot_depth_etl.py) with the sink semantics upgraded: checkpointed
append sinks are exactly-once; the reference loses the buffered tail
on stop (base.py:39-45 never flushes, SURVEY.md §2.10).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from binance_etl_spark.schemas import DECIMAL
from binance_etl_spark.sources.replay import stream_replay
from binance_etl_spark.streaming.book_sync import book_sync_stream
from binance_etl_spark.streaming.parse import parse_depth_updates, parse_trades


def trades_stream(spark: SparkSession, replay_path: str, max_frames: int = 3) -> DataFrame:
    return parse_trades(stream_replay(spark, replay_path, max_frames))


def depth_stream(
    spark: SparkSession,
    replay_path: str,
    snapshot_for: dict[str, dict],
    max_frames: int = 3,
    market: str = "spot",
) -> DataFrame:
    """Depth pipeline for any supported market. ``market`` picks the
    sync protocol: 'spot' = U==prev_u+1 continuity (book_utils.py:
    17-51); 'usdm_futures' / 'coinm_futures' = pu-continuity + the
    futures bridge rule (streaming/book_sync_futures.py — the markets
    the reference stubs, factory.py:26-29)."""
    raw = stream_replay(spark, replay_path, max_frames)
    if market == "spot":
        synced = book_sync_stream(parse_depth_updates(raw), snapshot_for)
    else:
        from binance_etl_spark.streaming.book_sync_futures import (
            book_sync_stream_futures,
            parse_depth_updates_futures,
        )

        synced = book_sync_stream_futures(
            parse_depth_updates_futures(raw), snapshot_for
        )
    return synced.withColumn("price", F.col("price").cast(DECIMAL)).withColumn(
        "quantity", F.col("quantity").cast(DECIMAL)
    )


@contextmanager
def stream_shuffle_partitions(spark: SparkSession, n: int):
    """Start the streaming queries of this block with ``n`` shuffle
    (state) partitions, then restore the session's own value.

    A query's stateful operators take their partition count from
    ``spark.sql.shuffle.partitions`` at the query's first checkpoint
    and keep it for the checkpoint's life. ``.start()`` clones the
    session (the ``StreamExecution`` constructor calls
    ``cloneSession``), so a query started inside the block keeps ``n``
    while the parent session never does; a ``foreachBatch`` body runs
    on that clone too, so a sink's own shuffles use ``n`` as well. A
    restart from an existing checkpoint keeps the count recorded in
    its offset log, whatever ``n`` is.

    Precondition: the block only starts queries, and no other thread
    runs work on ``spark`` while it is open — anything else that reads
    the conf in the meantime sees ``n``.
    """
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def write_table_stream(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = ("symbol",),
    bq_table: str | None = None,
) -> StreamingQuery:
    """Checkpointed append sink partitioned like the reference's
    {symbol}.{market} file layout (storage.py:57-59) — but exactly-once
    and columnar. ``fmt='bigquery'`` stages per-micro-batch parquet +
    load-job manifests instead (sources/bq_staging.py — the storage
    provider the reference stubs, factory.py:40-42).
    ``fmt='snapshot'`` lands each micro-batch as a VERSION of a
    snapshot-log table (operators/snapshots.py): exactly-once via
    batch-id replay tokens, a tail merge of the small files every 8
    versions (on the driver, no Spark job, while the tail is small —
    see `foreach_batch_snapshot`), readers
    get time travel / tags / CDC over the live ingestion table — the
    lakehouse storage provider.

    The query's state partition count is the session's
    ``spark.sql.shuffle.partitions`` at its first start. The runner
    starts each of its one-symbol queries with one state partition
    (`stream_shuffle_partitions`); a restart from an existing
    checkpoint keeps the count the checkpoint recorded."""
    if fmt == "snapshot":
        from binance_etl_spark.operators.snapshots import foreach_batch_snapshot

        return (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(
                foreach_batch_snapshot(out_dir, compact_every=8)
            )
            .start()
        )
    if fmt == "bigquery":
        import os as _os

        from binance_etl_spark.sources.bq_staging import foreach_batch_bigquery

        table = bq_table or _os.path.basename(out_dir.rstrip("/"))
        return (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(foreach_batch_bigquery(out_dir, table))
            .start()
        )
    writer = (
        df.writeStream.format(fmt)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", out_dir)
    )
    if fmt == "csv":
        writer = writer.option("header", True)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()


def quarantine_stream(spark: SparkSession, replay_path: str, max_frames: int = 1000) -> DataFrame:
    """DLQ: frames that fail JSON parsing or carry no known event type,
    preserved verbatim with arrival metadata. The reference logs a
    warning and drops them (spot_trades_etl.py:56-58); the engine
    routes them to a sink so nothing is silently lost."""
    from binance_etl_spark.sources.replay import stream_replay

    frames = stream_replay(spark, replay_path, max_frames)
    parsed = frames.select(
        "frame",
        "arrival_ms",
        "seq",
        F.from_json(
            "frame", "e STRING, _corrupt STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("j"),
    )
    # NULL-safe: a valid frame with no 'e' field (subscribe acks) has
    # e IS NULL, and `~isin` on NULL is NULL — coalesce to quarantine it.
    known = F.coalesce(F.col("j.e").isin("trade", "depthUpdate"), F.lit(False))
    return parsed.where(F.col("j._corrupt").isNotNull() | ~known).select(
        "frame", "arrival_ms", "seq"
    )


def stop_all(spark: SparkSession) -> None:
    """Graceful-stop twin of the reference's signal handler
    (main.py:12-23): stop every active query, then wait."""
    for q in spark.streams.active:
        q.stop()
    for q in spark.streams.active:
        q.awaitTermination(30)
