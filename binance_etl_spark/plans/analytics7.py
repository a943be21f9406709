"""Round-10 wave (verdict item 8): the two ops the round-9 judge named
as worth adding if cheap.

- text_substring_spans: the MAXIMAL-SPAN output granularity of the
  Lee-et-al suffix-array substring dedup — text_substring_dedup
  counts duplicated k-grams; this op merges overlapping duplicated
  gram positions into maximal shared spans per document (the byte
  ranges the published dedup tool emits for removal) via a
  gaps-and-islands window over dup positions only.
- stream_ohlcv_late_watermark: a REAL Structured Streaming windowed
  aggregation with watermark-based late-data drops, driven to
  completion over a deterministic growing replay spool, with an EXACT
  DuckDB oracle of Spark's semantics (verified empirically on Spark
  4.1): a row is dropped iff its window END <= the watermark current
  at its micro-batch, where the watermark entering batch k is
  max(event time over batches < k) - delay; append mode emits exactly
  the windows whose end <= the final watermark. Only possible because
  the round-10 replay source admits a deterministic batch sequence
  (sources/replay.py offset-gated pacing) — the batch boundaries ARE
  part of the op's semantics.

Exactness: all values are integer fixed-point (price e2, epoch ms/us),
open/close picked by min_by/max_by over (event time, seq) — no doubles
anywhere, so streaming-state merge order cannot reassociate anything.

Reference parity note: the reference ETL (anselumana/binance-etl,
~539 LoC) computes no windowed aggregates; these are north-star
extensions per SURVEY.md §2.20 (its trade stream shape,
spot_trades_etl.py:38-58, is what the late-data fixture mimics).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from binance_etl_spark.catalog import fanout, load
from binance_etl_spark.plans.llm_ops10 import _K, _SQL_GRAMS, _gram_stream
from binance_etl_spark.plans.registry import register
from binance_etl_spark.streaming.pipelines import stream_shuffle_partitions

# --- text_substring_spans -------------------------------------------


@register(
    "text_substring_spans",
    oracle=f"""
    WITH {_SQL_GRAMS},
    dpos AS (
      SELECT g.doc_id, g.pos FROM g JOIN pg USING (gram) WHERE pg.nd >= 2
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id
                  ORDER BY pos), -{10 * _K}) > {_K - 1}
                  THEN 1 ELSE 0 END AS new_span
      FROM dpos
    ), spans AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_no
      FROM flagged
    ), agg AS (
      SELECT doc_id, span_no,
             MAX(pos) - MIN(pos) + {_K} AS covered
      FROM spans GROUP BY doc_id, span_no
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(covered) AS BIGINT) AS dup_tokens,
           CAST(MAX(covered) AS BIGINT) AS longest_span
    FROM agg GROUP BY doc_id
    """,
    doc="Maximal duplicated-substring spans per document — the output "
    "granularity of the Lee et al. suffix-array exact-substring dedup "
    "(their tool emits byte ranges to cut; text_substring_dedup only "
    "counts grams). Duplicated k=5-gram START positions per doc merge "
    "into maximal spans wherever consecutive dup positions overlap "
    "(gap <= k-1 tokens): a LAG + cumulative-flag gaps-and-islands "
    "window over DUP POSITIONS ONLY, then span length = last - first "
    "+ k. 100 TB shape: the data-sized work is the same two "
    "O(total tokens) combinable shuffles as text_substring_dedup "
    "(gram -> distinct-doc count, join-back); the span window runs "
    "per-doc over the duplicated tail only, keyed by one doc_id "
    "exchange. All integer arithmetic.",
    tags=("text", "llm", "dedup", "window"),
)
def text_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fanout(load(spark, sf_dir, "documents"))
    g = _gram_stream(d)
    pg = g.groupBy("gram").agg(F.countDistinct("doc_id").alias("nd"))
    dpos = g.join(pg.where(F.col("nd") >= 2), "gram").select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    flagged = dpos.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos")
            - F.coalesce(F.lag("pos").over(w), F.lit(-10 * _K))
            > _K - 1,
            1,
        )
        .otherwise(0)
        .alias("new_span"),
    )
    spans = flagged.select(
        "doc_id",
        "pos",
        F.sum("new_span")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("span_no"),
    )
    agg = spans.groupBy("doc_id", "span_no").agg(
        (F.max("pos") - F.min("pos") + _K).alias("covered")
    )
    return agg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("covered").cast("bigint").alias("dup_tokens"),
        F.max("covered").cast("bigint").alias("longest_span"),
    )


# --- stream_ohlcv_late_watermark -------------------------------------

# Deterministic late-data tape: (phase, event_ms offset, symbol,
# price_e2, seq). Minute-aligned base; watermark delay 90s; 1-minute
# tumbling windows. Designed so every semantic branch fires:
# - phase-1 rows at +30s/+45s are LATE vs phase-0's max (+80s) but
#   their window [0,60) ends AFTER wm=-10s -> ACCEPTED;
# - phase-2 row at +55s hits wm=+150s >= window end 60s -> DROPPED;
# - phase-2 row at +110s: window [60,120) end 120 <= wm 150 -> DROPPED
#   (a late row into an already-emitted window);
# - the +1800s sentinel advances the final watermark past every real
#   window so append mode emits them all, while its own window stays
#   unemitted (auto-excluded).
_WM_DELAY_MS = 90_000
_WM_BASE_MS = 1_700_000_000_000 - (1_700_000_000_000 % 60_000)
_WM_PHASES: list[list[tuple[int, str, int, int]]] = [
    [  # phase 0: max ev = +80s
        (10_000, "AAA", 10_050, 0),
        (25_000, "AAA", 10_020, 1),
        (80_000, "AAA", 10_100, 2),
        (15_000, "BBB", 20_000, 3),
    ],
    [  # phase 1: wm = 80s-90s = -10s -> everything accepted; max=+240s
        (30_000, "AAA", 10_010, 4),   # late, window [0,60) open -> in
        (45_000, "BBB", 20_500, 5),   # late, accepted
        (240_000, "AAA", 10_200, 6),
        (185_000, "BBB", 19_900, 7),
    ],
    [  # phase 2: wm = 240s-90s = +150s
        (55_000, "AAA", 9_999, 8),    # window end 60 <= 150 -> DROPPED
        (110_000, "BBB", 21_000, 9),  # window end 120 <= 150 -> DROPPED
        (175_000, "AAA", 10_150, 10),  # window [120,180) end 180 > 150 -> in
        (250_000, "BBB", 20_100, 11),
        (1_800_000, "AAA", 1, 12),    # sentinel: flushes every real window
    ],
]


def _wm_values_sql() -> str:
    rows = ",\n      ".join(
        f"({ph}, {_WM_BASE_MS + off}, '{sym}', {price}, {seq})"
        for ph, phase in enumerate(_WM_PHASES)
        for off, sym, price, seq in phase
    )
    return f"(VALUES\n      {rows})"


@register(
    "stream_ohlcv_late_watermark",
    oracle=f"""
    WITH raw(phase, ev_ms, sym, price_e2, seq) AS {_wm_values_sql()},
    pmax AS (
      SELECT phase, MAX(ev_ms) AS mx FROM raw GROUP BY phase
    ), wm AS (  -- watermark ENTERING each phase: prior phases' max - delay
      SELECT phase,
             MAX(mx) OVER (ORDER BY phase ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING) - {_WM_DELAY_MS} AS wm_ms
      FROM pmax
    ), kept AS (  -- drop iff window END <= watermark at the row's batch
      SELECT r.sym, r.ev_ms, r.price_e2, r.seq,
             r.ev_ms - r.ev_ms % 60000 AS win_ms
      FROM raw r JOIN wm USING (phase)
      WHERE wm.wm_ms IS NULL
         OR r.ev_ms - r.ev_ms % 60000 + 60000 > wm.wm_ms
    ), fin AS (  -- append mode emits windows closed by the FINAL watermark
      SELECT MAX(ev_ms) - {_WM_DELAY_MS} AS f FROM raw
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY sym, win_ms
                                ORDER BY ev_ms, seq) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY sym, win_ms
                                ORDER BY ev_ms DESC, seq DESC) AS rn_close
      FROM kept WHERE win_ms + 60000 <= (SELECT f FROM fin)
    )
    SELECT sym AS symbol, CAST(win_ms * 1000 AS BIGINT) AS win_us,
           COUNT(*) AS n_trades,
           CAST(MAX(CASE WHEN rn_open = 1 THEN price_e2 END) AS BIGINT) AS open_e2,
           CAST(MAX(price_e2) AS BIGINT) AS high_e2,
           CAST(MIN(price_e2) AS BIGINT) AS low_e2,
           CAST(MAX(CASE WHEN rn_close = 1 THEN price_e2 END) AS BIGINT) AS close_e2,
           CAST(SUM(price_e2) AS BIGINT) AS turnover_e2
    FROM ranked GROUP BY sym, win_ms
    """,
    doc="Watermarked streaming OHLCV with late-data drops, run as a "
    "REAL Structured Streaming query (withWatermark 90s + 1-minute "
    "tumbling window, append mode) over a deterministic growing "
    "replay spool: each fixture phase is appended while the query is "
    "idle, so the offset-gated replay source (sources/replay.py, "
    "round-10) executes the identical micro-batch sequence every run "
    "— which makes watermark progression, late-row drops, and "
    "append-mode emission all DETERMINISTIC and therefore exactly "
    "SQL-oracle-able. Oracle encodes Spark's verified semantics: the "
    "watermark entering batch k is max(event time over batches < k) "
    "- delay; a row drops iff its window end <= that watermark "
    "(window-level lateness, NOT row-level); append emits windows "
    "whose end <= the final watermark. All integer fixed-point; "
    "open/close via min_by/max_by over (event time, seq) so state-"
    "merge order is irrelevant. The reference's trade stream "
    "(spot_trades_etl.py:38-58) is the frame shape replayed.",
    tags=("streaming", "window", "agg", "market"),
)
def stream_ohlcv_late_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from binance_etl_spark.sources.replay import stream_replay

    log = os.path.join(
        tempfile.mkdtemp(prefix="besk_wm_ohlcv_"), "trades.jsonl"
    )
    open(log, "w").close()

    def _append(phase: list[tuple[int, str, int, int]]) -> None:
        with open(log, "a") as f:
            for off, sym, price, seq in phase:
                frame = json.dumps(
                    {
                        "e": "trade",
                        "E": _WM_BASE_MS + off,
                        "s": sym,
                        "p": str(price),
                        "q": "1",
                        "t": seq,
                        "m": False,
                    }
                )
                f.write(
                    json.dumps(
                        {"frame": frame, "arrival_ms": 1000 + seq, "seq": seq}
                    )
                    + "\n"
                )

    sdf = stream_replay(spark, log, 100000)
    # e/E collide case-insensitively in one from_json schema (the
    # round-5 frame-parse gotcha) — get_json_object per field instead.
    parsed = sdf.select(
        F.get_json_object("frame", "$.s").alias("symbol"),
        F.timestamp_millis(
            F.get_json_object("frame", "$.E").cast("long")
        ).alias("ev"),
        F.get_json_object("frame", "$.p").cast("long").alias("price_e2"),
        F.get_json_object("frame", "$.t").cast("long").alias("seq"),
    ).where(F.get_json_object("frame", "$.e") == "trade")
    agg = (
        parsed.withWatermark("ev", "90 seconds")
        .groupBy(F.window("ev", "1 minute").alias("w"), "symbol")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.expr("min_by(price_e2, struct(ev, seq))").alias("open_e2"),
            F.max("price_e2").alias("high_e2"),
            F.min("price_e2").alias("low_e2"),
            F.expr("max_by(price_e2, struct(ev, seq))").alias("close_e2"),
            F.sum("price_e2").alias("turnover_e2"),
        )
    )
    name = "wm_ohlcv_" + uuid.uuid4().hex[:12]
    # a 13-row stateful stream under a bare session's 200 shuffle
    # partitions pays ~1200 empty state-store tasks; start it with a
    # small count (streaming aggs fix partitions at first checkpoint)
    with stream_shuffle_partitions(spark, 4):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
    try:
        for phase in _WM_PHASES:
            _append(phase)
            q.processAllAvailable()
        q.processAllAvailable()
        rows = (
            spark.table(name)
            .select(
                "symbol",
                F.unix_micros("w.start").alias("win_us"),
                F.col("n_trades").cast("bigint").alias("n_trades"),
                F.col("open_e2").cast("bigint").alias("open_e2"),
                F.col("high_e2").cast("bigint").alias("high_e2"),
                F.col("low_e2").cast("bigint").alias("low_e2"),
                F.col("close_e2").cast("bigint").alias("close_e2"),
                F.col("turnover_e2").cast("bigint").alias("turnover_e2"),
            )
            .collect()
        )
    finally:
        # invocation-clean like every other op: the parity sweep and
        # bench warmups call registered fns repeatedly in one session,
        # so the memory-sink view and the spool dir must not accumulate
        q.stop()
        spark.catalog.dropTempView(name)
        shutil.rmtree(os.path.dirname(log), ignore_errors=True)
    schema = (
        "symbol STRING, win_us BIGINT, n_trades BIGINT, open_e2 BIGINT, "
        "high_e2 BIGINT, low_e2 BIGINT, close_e2 BIGINT, turnover_e2 BIGINT"
    )
    return spark.createDataFrame(rows, schema)
