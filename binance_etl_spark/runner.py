"""Config-driven job runner — the engine twin of the reference's boot
path (reference main.py:25-33 + factory.py:9-43 + config.json).

The reference parses dotted event ids `exchange.market.symbol.event_type`
(factory.py:14), dispatches spot+trade / spot+depth ETLs (factory.py:19-30,
futures are stubs :26-29, unknown ids raise :30), builds one websocket
client per id, and appends CSV. Here each event id becomes one
checkpointed Structured Streaming query over a replay log / live spool,
all supervised by the SparkSession's stream manager.

Config shape (mirrors reference config.json):

    {
      "events": ["binance.spot.bnbusdt.trade", "binance.spot.bnbusdt.depth"],
      "storage": {"format": "parquet", "output_path": "...",
                  "checkpoint_path": "..."},
      "sources": {"bnbusdt.trade": "<replay/spool path>",
                  "bnbusdt.depth": "<path>"},
      "snapshots": {"BNBUSDT": {...book snapshot dict...}}
    }
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from binance_etl_spark.streaming.pipelines import (
    depth_stream,
    stop_all,
    stream_shuffle_partitions,
    trades_stream,
    write_table_stream,
)

# The reference recognizes `usdm_futures` / `coinm_futures` but stubs
# them (factory.py:26-29 fall through to the generic raise). The
# engine implements them: futures trade frames parse with the spot
# trade parser (same public field set), and futures depth runs the
# pu-continuity sync protocol (streaming/book_sync_futures.py).
MARKETS = ("spot", "usdm_futures", "coinm_futures")
SUPPORTED = {(m, e) for m in MARKETS for e in ("trade", "depth")}


@dataclass(frozen=True)
class JobSpec:
    exchange: str
    market: str
    symbol: str
    event_type: str

    @property
    def source_key(self) -> str:
        return f"{self.symbol}.{self.event_type}"


def parse_event_id(event_id: str) -> JobSpec:
    """`exchange.market.symbol.event_type` (reference factory.py:14)."""
    parts = event_id.split(".")
    if len(parts) != 4:
        raise ValueError(f"malformed event id {event_id!r}; expected exchange.market.symbol.event_type")
    exchange, market, symbol, event_type = parts
    if (market, event_type) not in SUPPORTED:
        raise ValueError(f"unsupported (market, event) {(market, event_type)!r}")
    return JobSpec(exchange, market, symbol, event_type)


def start_jobs(spark: SparkSession, config: dict) -> list[StreamingQuery]:
    """One streaming query per configured event id (the reference's
    one-ws-client-per-id model, factory.py:9-17, made supervised and
    exactly-once).

    Each query serves exactly one symbol, so a depth query's book sync
    holds one state key: every query starts with ONE state partition
    instead of the session's ``spark.sql.shuffle.partitions`` (which
    would open that many state stores per trigger, all but one empty).
    Trade queries have no stateful operator, so the rule costs them
    nothing. A restart from an existing checkpoint keeps the count the
    checkpoint recorded, so older multi-partition checkpoints resume
    unchanged. The session's own value is left as it was."""
    storage = config.get("storage", {})
    fmt = storage.get("format", "parquet")
    out_root = storage["output_path"]
    ckpt_root = storage.get("checkpoint_path", os.path.join(out_root, "_checkpoints"))
    sources = config["sources"]
    snapshots = config.get("snapshots", {})

    queries: list[StreamingQuery] = []
    for event_id in config["events"]:
        spec = parse_event_id(event_id)
        src = sources[spec.source_key]
        if spec.event_type == "trade":
            df = trades_stream(spark, src, max_frames=int(config.get("max_frames", 1000)))
        else:
            df = depth_stream(
                spark,
                src,
                snapshots,
                max_frames=int(config.get("max_frames", 1000)),
                market=spec.market,
            )
        table = "trades" if spec.event_type == "trade" else "depth"
        # Sink path is per (market, symbol, table), matching the
        # checkpoint granularity: two queries sharing one
        # FileStreamSink _spark_metadata log would each start at batch
        # 0 and the later one would silently skip its own batch ids
        # (reference writes per-symbol files too, storage.py:63-75).
        # fmt='bigquery' (the reference's "todo" storage provider,
        # factory.py:40-42): per-batch staged parquet + load manifests;
        # the destination table id is <dataset>.<market>_<symbol>_<table>
        bq_table = None
        if fmt == "bigquery":
            dataset = storage.get("bigquery_dataset", "binance_etl")
            bq_table = f"{dataset}.{spec.market}_{spec.symbol}_{table}"
        with stream_shuffle_partitions(spark, 1):
            queries.append(
                write_table_stream(
                    df,
                    os.path.join(out_root, spec.market, spec.symbol, table),
                    os.path.join(ckpt_root, spec.market, spec.symbol, table),
                    fmt=fmt,
                    bq_table=bq_table,
                )
            )
    return queries


def run_until_stopped(spark: SparkSession, config: dict) -> None:
    """Boot + await, mirroring main.py:25-33; callers stop via
    pipelines.stop_all (the SIGINT handler twin)."""
    start_jobs(spark, config)
    try:
        spark.streams.awaitAnyTermination()
    finally:
        stop_all(spark)
