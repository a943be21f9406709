"""Round-11 wave (r10 verdict item 3): the stream-stream join gets the
round-10 watermark-oracle treatment.

- stream_join_late_watermark: a REAL Structured Streaming stream-stream
  INTERVAL join (trades x depth, same symbol, +/-1s event time) driven
  over two deterministic growing replay spools, with an EXACT DuckDB
  oracle of Spark's state-eviction/late-drop semantics, verified
  empirically on Spark 4.1 before encoding:

  1. the GLOBAL watermark entering micro-batch k is
     min over BOTH inputs of (max event time over batches < k) - delay
     (the default multipleWatermarkPolicy=min — a lagging side HOLDS
     the watermark back, observed: a trades-side max of +300s with a
     depth-side max of +100s admits a +91s row);
  2. an input row is DROPPED iff its event time <= that global
     watermark (row-level, boundary INCLUSIVE: a row exactly AT the
     watermark was observed dropped — unlike the windowed-agg rule,
     which is window-END-based);
  3. state eviction (rows below watermark - interval width) can NEVER
     exclude a pair both of whose rows were admitted: if d is admitted
     at batch j (d_ev > wm_j) and |d_ev - t_ev| <= 1s, then
     t_ev >= d_ev - 1s > wm_j - 1s — exactly the side's state
     watermark, so t is still in state. Observed: a phase-0 depth row
     matched a phase-2 trade. Hence the oracle is DROPS + JOIN, with
     eviction provably absorbed. The proof needs only the SINGLE
     global watermark (partner of an admitted row has ev > wm - tol,
     strictly above the eviction line), NOT equal delays — verified
     empirically for unequal delays (10s vs 3s) with the binding side
     flipping mid-stream in tests/test_round11_ops.py::
     test_stream_join_asymmetric_delays_match_twin.

  The batch boundaries ARE part of the semantics; they are
  deterministic because the replay source's offset-gated admission
  (sources/replay.py, round-10) serves each appended phase as exactly
  one batch.

Reference parity note: the reference ETL (anselumana/binance-etl, ~539
LoC) joins nothing; its trade + depth stream shapes
(spot_trades_etl.py:38-58, spot_depth_etl.py) are what the two tapes
mimic. North-star extension per SURVEY.md §2.21.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binance_etl_spark.catalog import load
from binance_etl_spark.operators.asof import asof_join
from binance_etl_spark.plans.registry import register
from binance_etl_spark.streaming.pipelines import stream_shuffle_partitions

# Deterministic two-sided late-data tape: (event_ms offset, symbol,
# id). Watermark delay 10s on both sides; join interval +/-1s. Every
# semantic branch fires somewhere:
# - phase 0 seeds BOTH sides (watermark NULL -> everything admitted);
#   in-phase pairs (1,101) A and (2,102) B;
# - phase 1 (wm = min(11.5, 12.6) - 10 = +1.5s): trade 3 @1.0 and
#   depth 104 @1.4 DROP (<= wm) — 104 would have matched trade 4;
#   trade 4 @2.0 and depth 105 @2.3 are late-but-admitted -> (4,105);
#   trade 5 advances the trades max to +60s; depth 106 @12.1 waits in
#   state for a phase-2 trade;
# - phase 2 (wm = min(60, 12.6) - 10 = +2.6s — the MIN policy: the
#   lagging depth side holds the watermark back): trade 7 @2.6 drops
#   AT the boundary; trade 8 @2.7 is admitted -> (8,107); trade 6
#   @12.9 joins phase-1 state 106 AND phase-0 state 103 (retention
#   across 2 phases); depth 108 @61.0 joins phase-1 trade 5 @60.0 at
#   the INCLUSIVE interval edge (|61-60| = 1.0s) -> (5,108);
# - phase 3 (wm = min(60, 61) - 10 = +50s): trade 10 @12.5 and depth
#   110 @49.9 drop deep-late (10 would have matched 103/106 — drops,
#   not eviction, kill those pairs); trade 9 @59.6 joins depth 109
#   @59.1 -> (9,109).
_SJ_DELAY_MS = 10_000
_SJ_TOL_MS = 1_000
_SJ_BASE_MS = 1_700_000_000_000 - (1_700_000_000_000 % 60_000)
_SJ_TRADES: list[list[tuple[int, str, int]]] = [
    [(10_000, "AAA", 1), (11_500, "BBB", 2)],
    [(1_000, "AAA", 3), (2_000, "AAA", 4), (60_000, "AAA", 5)],
    [(12_900, "AAA", 6), (2_600, "BBB", 7), (2_700, "BBB", 8)],
    [(59_600, "AAA", 9), (12_500, "AAA", 10)],
]
_SJ_DEPTH: list[list[tuple[int, str, int]]] = [
    [(10_400, "AAA", 101), (11_300, "BBB", 102), (12_600, "AAA", 103)],
    [(1_400, "AAA", 104), (2_300, "AAA", 105), (12_100, "AAA", 106)],
    [(2_650, "BBB", 107), (61_000, "AAA", 108)],
    [(59_100, "AAA", 109), (49_900, "BBB", 110)],
]


def _sj_values(tape: list[list[tuple[int, str, int]]]) -> str:
    rows = ",\n      ".join(
        f"({ph}, {_SJ_BASE_MS + off}, '{sym}', {ident})"
        for ph, phase in enumerate(tape)
        for off, sym, ident in phase
    )
    return f"(VALUES\n      {rows})"


def _run_stream_join(
    spark: SparkSession,
    trades_tape: list[list[tuple[int, str, int]]],
    depth_tape: list[list[tuple[int, str, int]]],
    join_type: str,
    prefix: str,
    t_delay_ms: int = _SJ_DELAY_MS,
    d_delay_ms: int = _SJ_DELAY_MS,
) -> DataFrame:
    """Shared driver for every REAL stream-stream interval-join op:
    spool the two (event-offset, symbol, id) tapes phase-by-phase
    through the deterministic replay source (one phase = one
    micro-batch, sources/replay.py offset-gated admission), run
    trades JOIN depth on symbol within +/-_SJ_TOL_MS event time with
    per-side watermarks, and return the collected rows under the
    canonical (symbol, trade_id, t_ms, depth_id, d_ms) schema (outer
    joins surface their NULL sides through it unchanged). Conf
    save/restore and teardown wrap the WHOLE lifecycle — including a
    .start() that throws — and the memory-sink name is unique per
    invocation so repeated bench/parity calls never collide."""
    from binance_etl_spark.sources.replay import stream_replay

    root = tempfile.mkdtemp(prefix=prefix)
    tlog = os.path.join(root, "trades.jsonl")
    dlog = os.path.join(root, "depth.jsonl")
    open(tlog, "w").close()
    open(dlog, "w").close()
    seq = [0]

    def _append(log: str, phase: list[tuple[int, str, int]]) -> None:
        with open(log, "a") as f:
            for off, sym, ident in phase:
                frame = json.dumps(
                    {"E": _SJ_BASE_MS + off, "s": sym, "i": ident}
                )
                seq[0] += 1
                f.write(
                    json.dumps(
                        {
                            "frame": frame,
                            "arrival_ms": 1000 + seq[0],
                            "seq": seq[0],
                        }
                    )
                    + "\n"
                )

    def _side(log: str, tag: str, delay_ms: int):
        sdf = stream_replay(spark, log, 100000)
        return sdf.select(
            F.get_json_object("frame", "$.s").alias(f"{tag}_sym"),
            F.timestamp_millis(
                F.get_json_object("frame", "$.E").cast("long")
            ).alias(f"{tag}_ev"),
            F.get_json_object("frame", "$.E").cast("long").alias(f"{tag}_ms"),
            F.get_json_object("frame", "$.i").cast("long").alias(f"{tag}_id"),
        ).withWatermark(f"{tag}_ev", f"{delay_ms // 1000} seconds")

    joined = _side(tlog, "t", t_delay_ms).join(
        _side(dlog, "d", d_delay_ms),
        F.expr(
            "t_sym = d_sym AND d_ev BETWEEN "
            f"t_ev - INTERVAL {_SJ_TOL_MS} MILLISECONDS "
            f"AND t_ev + INTERVAL {_SJ_TOL_MS} MILLISECONDS"
        ),
        join_type,
    )
    name = prefix.rstrip("_") + "_" + uuid.uuid4().hex[:12]
    # start with a small stream partition count — a ~20-row symmetric
    # hash join under 200 shuffle partitions pays ~2400 empty
    # state-store tasks per batch
    q = None
    try:
        with stream_shuffle_partitions(spark, 4):
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .start()
            )
        for tphase, dphase in zip(trades_tape, depth_tape):
            _append(tlog, tphase)
            _append(dlog, dphase)
            q.processAllAvailable()
        q.processAllAvailable()
        rows = (
            spark.table(name)
            .select(
                F.coalesce(F.col("t_sym"), F.col("d_sym")).alias("symbol"),
                F.col("t_id").alias("trade_id"),
                "t_ms",
                F.col("d_id").alias("depth_id"),
                "d_ms",
            )
            .collect()
        )
    finally:
        # invocation-clean: the parity sweep and bench warmups call
        # registered fns repeatedly in one session — the memory-sink
        # view and the spool dir must not accumulate
        if q is not None:
            q.stop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(root, ignore_errors=True)
    schema = (
        "symbol STRING, trade_id BIGINT, t_ms BIGINT, "
        "depth_id BIGINT, d_ms BIGINT"
    )
    return spark.createDataFrame(rows, schema)


@register(
    "stream_join_late_watermark",
    oracle=f"""
    WITH traw(phase, ev_ms, sym, tid) AS {_sj_values(_SJ_TRADES)},
    draw(phase, ev_ms, sym, did) AS {_sj_values(_SJ_DEPTH)},
    pm AS (  -- cumulative per-INPUT max event time, per phase
      SELECT phase,
             MAX(CASE WHEN side = 't' THEN ev_ms END) AS tmx,
             MAX(CASE WHEN side = 'd' THEN ev_ms END) AS dmx
      FROM (SELECT phase, ev_ms, 't' AS side FROM traw
            UNION ALL SELECT phase, ev_ms, 'd' AS side FROM draw)
      GROUP BY phase
    ), wm AS (  -- GLOBAL watermark entering each phase: min over both
                -- inputs of the prior-phases max, minus the delay
      SELECT phase,
             LEAST(MAX(tmx) OVER w, MAX(dmx) OVER w) - {_SJ_DELAY_MS}
               AS wm_ms
      FROM pm
      WINDOW w AS (ORDER BY phase
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), t AS (  -- row admitted iff ev > watermark at its batch
      SELECT r.sym, r.ev_ms, r.tid
      FROM traw r JOIN wm USING (phase)
      WHERE wm.wm_ms IS NULL OR r.ev_ms > wm.wm_ms
    ), d AS (
      SELECT r.sym, r.ev_ms, r.did
      FROM draw r JOIN wm USING (phase)
      WHERE wm.wm_ms IS NULL OR r.ev_ms > wm.wm_ms
    )
    SELECT t.sym AS symbol,
           CAST(t.tid AS BIGINT) AS trade_id,
           CAST(t.ev_ms AS BIGINT) AS t_ms,
           CAST(d.did AS BIGINT) AS depth_id,
           CAST(d.ev_ms AS BIGINT) AS d_ms
    FROM t JOIN d
      ON d.sym = t.sym
     AND d.ev_ms BETWEEN t.ev_ms - {_SJ_TOL_MS}
                     AND t.ev_ms + {_SJ_TOL_MS}
    """,
    doc="Stream-stream interval join with watermark state management, "
    "run as a REAL Structured Streaming query (trades JOIN depth on "
    "symbol within +/-1s event time, withWatermark 10s on BOTH "
    "inputs, append mode) over two deterministic growing replay "
    "spools. The oracle encodes Spark's verified semantics (module "
    "docstring): global watermark = min over inputs of prior-batch "
    "max - delay; a row drops iff its event time <= that watermark "
    "(boundary inclusive, row-level); state eviction is provably "
    "absorbed by the drop rule for a symmetric interval with equal "
    "delays, so the oracle is drops + join. 100 TB shape: both sides "
    "shuffle once on symbol into the symmetric hash join; state per "
    "key is bounded by (delay + interval) x arrival rate and evicted "
    "by the state watermark — no unbounded buffering; the replay "
    "tapes are the reference's trade/depth frame shapes.",
    tags=("streaming", "join", "market"),
)
def stream_join_late_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_stream_join(spark, _SJ_TRADES, _SJ_DEPTH, "inner", "besk_sj_wm_")


# --- join_asof_prefiltered (r10 verdict optional op A) ----------------


@register(
    "join_asof_prefiltered",
    oracle="""
    SELECT p.event_id, p.user_id,
           s.event_id AS asof_event_id,
           s.value AS asof_value
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND user_id % 97 = 0) p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    doc="SPARSE-probe as-of join with a runtime build-side row filter: "
    "~1% of users' purchases probed against the full view reference. "
    "asof_join(prefilter=True) semi-joins the reference down to probe "
    "keys BEFORE the union+window — the row-level runtime filter "
    "Spark's bloom-join injection gives shuffle joins but cannot "
    "inject into the union+window as-of shape. AQE plans the "
    "semi-join broadcast (probe key set is small), i.e. a map-side "
    "filter on the reference scan, so at 100 TB the window shuffles "
    "O(probe + matching reference) rows instead of the full "
    "reference. Result provably identical to prefilter=False (the "
    "window partitions by key; keyless-on-the-left reference rows "
    "can never be selected) — pinned in tests/test_round11_ops.py "
    "along with the broadcast-semi plan shape.",
    tags=("join", "asof"),
)
def join_asof_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    purchases = e.where(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 97 == 0)
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        prefilter=True,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("asof_event_id"),
        F.col("asof_value").alias("asof_value"),
    )


# --- stream_join_outer_watermark --------------------------------------

# LEFT OUTER tape (delay 10s, tol 1s): branches the inner op cannot
# exercise —
# - unmatched ADMITTED trades 50/7/60 emit NULL rows once evictable
#   (t_ev + tol < final wm 290s);
# - trade 61 @289.0s sits EXACTLY at final_wm - tol (290.0 == 290):
#   observed HELD, so the emission rule is STRICT less-than;
# - trade 62 @295s stays above the threshold: never emits;
# - trade 3 @2.0s <= wm 2.6s drops as late INPUT: no NULL row either
#   (dropped-late lefts vanish entirely — verified);
# - depth 150 @40s is admitted and unmatched: LEFT outer emits
#   nothing for the right side;
# - pairs (1,101), (5,105), (6,106), (99,199) ride the inner rule.
_SJO_TRADES: list[list[tuple[int, str, int]]] = [
    [(10_000, "AAA", 1), (30_000, "AAA", 50)],
    [(2_000, "AAA", 3), (60_000, "AAA", 5)],
    [(55_000, "AAA", 6), (52_000, "BBB", 7)],
    [
        (300_000, "AAA", 99),
        (288_900, "AAA", 60),
        (289_000, "AAA", 61),
        (295_000, "AAA", 62),
    ],
]
_SJO_DEPTH: list[list[tuple[int, str, int]]] = [
    [(10_400, "AAA", 101), (12_600, "AAA", 103)],
    [(59_700, "AAA", 105), (40_000, "AAA", 150)],
    [(55_800, "AAA", 106)],
    [(300_000, "AAA", 199)],
]


@register(
    "stream_join_outer_watermark",
    oracle=f"""
    WITH traw(phase, ev_ms, sym, tid) AS {_sj_values(_SJO_TRADES)},
    draw(phase, ev_ms, sym, did) AS {_sj_values(_SJO_DEPTH)},
    pm AS (
      SELECT phase,
             MAX(CASE WHEN side = 't' THEN ev_ms END) AS tmx,
             MAX(CASE WHEN side = 'd' THEN ev_ms END) AS dmx
      FROM (SELECT phase, ev_ms, 't' AS side FROM traw
            UNION ALL SELECT phase, ev_ms, 'd' AS side FROM draw)
      GROUP BY phase
    ), wm AS (
      SELECT phase,
             LEAST(MAX(tmx) OVER w, MAX(dmx) OVER w) - {_SJ_DELAY_MS}
               AS wm_ms
      FROM pm
      WINDOW w AS (ORDER BY phase
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), t AS (
      SELECT r.sym, r.ev_ms, r.tid
      FROM traw r JOIN wm USING (phase)
      WHERE wm.wm_ms IS NULL OR r.ev_ms > wm.wm_ms
    ), d AS (
      SELECT r.sym, r.ev_ms, r.did
      FROM draw r JOIN wm USING (phase)
      WHERE wm.wm_ms IS NULL OR r.ev_ms > wm.wm_ms
    ), fin AS (  -- FINAL global watermark (min of the two inputs)
      SELECT LEAST((SELECT MAX(ev_ms) FROM traw),
                   (SELECT MAX(ev_ms) FROM draw)) - {_SJ_DELAY_MS} AS f
    )
    SELECT t.sym AS symbol,
           CAST(t.tid AS BIGINT) AS trade_id,
           CAST(t.ev_ms AS BIGINT) AS t_ms,
           CAST(d.did AS BIGINT) AS depth_id,
           CAST(d.ev_ms AS BIGINT) AS d_ms
    FROM t JOIN d
      ON d.sym = t.sym
     AND d.ev_ms BETWEEN t.ev_ms - {_SJ_TOL_MS}
                     AND t.ev_ms + {_SJ_TOL_MS}
    UNION ALL
    SELECT t.sym AS symbol,
           CAST(t.tid AS BIGINT) AS trade_id,
           CAST(t.ev_ms AS BIGINT) AS t_ms,
           CAST(NULL AS BIGINT) AS depth_id,
           CAST(NULL AS BIGINT) AS d_ms
    FROM t
    WHERE NOT EXISTS (
            SELECT 1 FROM d
            WHERE d.sym = t.sym
              AND d.ev_ms BETWEEN t.ev_ms - {_SJ_TOL_MS}
                              AND t.ev_ms + {_SJ_TOL_MS}
          )
      AND t.ev_ms + {_SJ_TOL_MS} < (SELECT f FROM fin)
    """,
    doc="LEFT OUTER stream-stream interval join — the eviction-timed "
    "NULL-row semantics on top of the inner op's drop rule, run as a "
    "REAL Structured Streaming query over two deterministic replay "
    "spools and verified empirically on Spark 4.1: an admitted left "
    "row with no admitted in-interval match emits (left, NULL) when "
    "its state evicts, i.e. iff t_ev + tol < the FINAL global "
    "watermark (STRICT — a row exactly AT final_wm - tol was observed "
    "held); a dropped-late left row vanishes entirely (no NULL row); "
    "unmatched right rows emit nothing (left outer). 100 TB shape: "
    "identical to the inner op — one symbol shuffle per side into the "
    "symmetric hash join, state bounded by (delay + interval) x "
    "arrival rate; the NULL emission adds no state, it rides the "
    "eviction pass.",
    tags=("streaming", "join", "market"),
)
def stream_join_outer_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_stream_join(spark, _SJO_TRADES, _SJO_DEPTH, "left_outer", "besk_sjo_wm_")


# --- stream_join_full_watermark ---------------------------------------

# FULL OUTER tape (delay 10s, tol 1s): the symmetric completion of
# the join-type matrix. Branches:
# - pairs (1,101), (5,105), (99,199);
# - unmatched LEFT 70 @20s and 72 @288.9s emit (left, NULL)
#   (t+tol < final wm 290); 73 @289.0 boundary-held; 74 @295 never;
# - unmatched RIGHT 103/170/172 emit (NULL, right) under the
#   SYMMETRIC strict rule (verified empirically: a right row exactly
#   at final_wm - tol was held); 173 boundary-held; 174 never;
# - dropped-late rows on EACH side (71 @9s, 171 @9.5s vs wm 10s)
#   vanish entirely.
_SJF_TRADES: list[list[tuple[int, str, int]]] = [
    [(10_000, "AAA", 1), (20_000, "AAA", 70)],
    [(9_000, "AAA", 71), (60_000, "AAA", 5)],
    [
        (300_000, "AAA", 99),
        (288_900, "AAA", 72),
        (289_000, "AAA", 73),
        (295_000, "AAA", 74),
    ],
]
_SJF_DEPTH: list[list[tuple[int, str, int]]] = [
    [(10_400, "AAA", 101), (30_000, "AAA", 170), (12_600, "AAA", 103)],
    [(9_500, "AAA", 171), (59_600, "AAA", 105)],
    [
        (300_000, "AAA", 199),
        (288_800, "BBB", 172),
        (289_000, "BBB", 173),
        (295_000, "BBB", 174),
    ],
]

_SJF_ADMIT = f"""
    pm AS (
      SELECT phase,
             MAX(CASE WHEN side = 't' THEN ev_ms END) AS tmx,
             MAX(CASE WHEN side = 'd' THEN ev_ms END) AS dmx
      FROM (SELECT phase, ev_ms, 't' AS side FROM traw
            UNION ALL SELECT phase, ev_ms, 'd' AS side FROM draw)
      GROUP BY phase
    ), wm AS (
      SELECT phase,
             LEAST(MAX(tmx) OVER w, MAX(dmx) OVER w) - {_SJ_DELAY_MS}
               AS wm_ms
      FROM pm
      WINDOW w AS (ORDER BY phase
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), t AS (
      SELECT r.sym, r.ev_ms, r.tid
      FROM traw r JOIN wm USING (phase)
      WHERE wm.wm_ms IS NULL OR r.ev_ms > wm.wm_ms
    ), d AS (
      SELECT r.sym, r.ev_ms, r.did
      FROM draw r JOIN wm USING (phase)
      WHERE wm.wm_ms IS NULL OR r.ev_ms > wm.wm_ms
    ), fin AS (
      SELECT LEAST((SELECT MAX(ev_ms) FROM traw),
                   (SELECT MAX(ev_ms) FROM draw)) - {_SJ_DELAY_MS} AS f
    )"""


@register(
    "stream_join_full_watermark",
    oracle=f"""
    WITH traw(phase, ev_ms, sym, tid) AS {_sj_values(_SJF_TRADES)},
    draw(phase, ev_ms, sym, did) AS {_sj_values(_SJF_DEPTH)},
    {_SJF_ADMIT}
    SELECT t.sym AS symbol,
           CAST(t.tid AS BIGINT) AS trade_id,
           CAST(t.ev_ms AS BIGINT) AS t_ms,
           CAST(d.did AS BIGINT) AS depth_id,
           CAST(d.ev_ms AS BIGINT) AS d_ms
    FROM t JOIN d
      ON d.sym = t.sym
     AND d.ev_ms BETWEEN t.ev_ms - {_SJ_TOL_MS}
                     AND t.ev_ms + {_SJ_TOL_MS}
    UNION ALL
    SELECT t.sym, CAST(t.tid AS BIGINT), CAST(t.ev_ms AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM t
    WHERE NOT EXISTS (
            SELECT 1 FROM d
            WHERE d.sym = t.sym
              AND d.ev_ms BETWEEN t.ev_ms - {_SJ_TOL_MS}
                              AND t.ev_ms + {_SJ_TOL_MS}
          )
      AND t.ev_ms + {_SJ_TOL_MS} < (SELECT f FROM fin)
    UNION ALL
    SELECT d.sym, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(d.did AS BIGINT), CAST(d.ev_ms AS BIGINT)
    FROM d
    WHERE NOT EXISTS (
            SELECT 1 FROM t
            WHERE t.sym = d.sym
              AND d.ev_ms BETWEEN t.ev_ms - {_SJ_TOL_MS}
                              AND t.ev_ms + {_SJ_TOL_MS}
          )
      AND d.ev_ms + {_SJ_TOL_MS} < (SELECT f FROM fin)
    """,
    doc="FULL OUTER stream-stream interval join — completes the "
    "inner/left/full join-type matrix over the same deterministic "
    "two-spool replay machinery. Verified empirically on Spark 4.1: "
    "BOTH sides' eviction-timed NULL rows follow the symmetric strict "
    "rule (emit iff ev + tol < final global watermark; rows exactly "
    "AT the threshold held on either side); dropped-late rows on "
    "either side vanish entirely. Oracle = admitted inner join UNION "
    "both NOT-EXISTS null branches. Same 100 TB shape as the inner "
    "op: one symbol shuffle per side, bounded state, NULL emission "
    "rides the eviction pass.",
    tags=("streaming", "join", "market"),
)
def stream_join_full_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_stream_join(spark, _SJF_TRADES, _SJF_DEPTH, "full_outer", "besk_sjf_wm_")
