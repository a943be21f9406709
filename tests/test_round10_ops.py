"""Round-10 wave invariants: a pure-Python twin for the maximal-span
substring dedup, and hand-derived semantic facts for the watermarked
streaming OHLCV (the oracle parity suite checks cross-engine
exactness; these check the MATH/SEMANTICS are the intended ones)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from binance_etl_spark.plans.registry import REGISTRY, _ensure_loaded

_ensure_loaded()
SF_DIR = "/root/testdata/sf0.001"
K = 5


def test_substring_spans_matches_python_twin(spark):
    from binance_etl_spark.catalog import load

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF_DIR, "documents").collect()
    }
    # gram -> set of docs (md5 of the k-token window, same as the op)
    by_gram: dict[str, set] = defaultdict(set)
    positions: dict[int, list[tuple[int, str]]] = {}
    for doc_id, text in docs.items():
        toks = text.split(" ")
        plist = []
        for i in range(len(toks) - K + 1):
            g = hashlib.md5(" ".join(toks[i : i + K]).encode()).hexdigest()
            by_gram[g].add(doc_id)
            plist.append((i + 1, g))  # 1-based like the op
        positions[doc_id] = plist
    expected = {}
    for doc_id, plist in positions.items():
        dup = [p for p, g in plist if len(by_gram[g]) >= 2]
        if not dup:
            continue
        spans = []
        start = prev = dup[0]
        for p in dup[1:]:
            if p - prev > K - 1:
                spans.append((start, prev))
                start = p
            prev = p
        spans.append((start, prev))
        covered = [e - s + K for s, e in spans]
        expected[doc_id] = (len(spans), sum(covered), max(covered))

    got = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["longest_span"])
        for r in REGISTRY["text_substring_spans"].fn(spark, SF_DIR).collect()
    }
    assert got == expected
    assert expected, "fixture must contain at least one duplicated span"


def test_stream_ohlcv_late_watermark_semantics(spark):
    from binance_etl_spark.plans.analytics7 import (
        _WM_BASE_MS,
        _WM_PHASES,
    )

    rows = {
        (r["symbol"], (r["win_us"] // 1000 - _WM_BASE_MS) // 1000): r
        for r in REGISTRY["stream_ohlcv_late_watermark"]
        .fn(spark, SF_DIR)
        .collect()
    }
    # sentinel window (+1800s) is never emitted (still open at stop)
    assert ("AAA", 1800) not in rows
    # AAA window [0,60): seqs 0,1 (phase 0) + late-accepted seq 4;
    # phase-2 seq 8 (price 9999) DROPPED -> low stays 10010
    w0 = rows[("AAA", 0)]
    assert w0["n_trades"] == 3
    assert w0["open_e2"] == 10_050  # ev +10s is the earliest
    assert w0["low_e2"] == 10_010   # 9_999 was dropped as late
    assert w0["close_e2"] == 10_010  # ev +30s (late seq 4) is last
    # BBB window [60,120): seq 9 at +110s dropped (window already
    # emitted at wm=150s) -> NO such window in the output at all
    assert ("BBB", 60) not in rows
    # BBB window [0,60): seqs 3 and late-accepted 5
    b0 = rows[("BBB", 0)]
    assert b0["n_trades"] == 2
    assert b0["high_e2"] == 20_500 and b0["close_e2"] == 20_500
    # every real (non-sentinel, non-dropped) row is accounted for
    total = sum(r["n_trades"] for r in rows.values())
    n_fixture = sum(len(p) for p in _WM_PHASES)
    assert total == n_fixture - 3  # 2 dropped late rows + 1 sentinel


def test_replay_pacing_is_poll_count_independent(spark, tmp_path):
    """Round-10 determinism pin (r9 verdict item 1), on the JVM stream
    of the `replay` source: latestOffset depends only on the start
    offset, so extra availability polls (whose count is wall-clock
    timing) never admit extra frames, and planning a batch changes no
    answer. The first call of a run catches up to the log head."""
    import json as _json

    jvm = spark._jvm
    log = tmp_path / "frames.jsonl"

    def append(seqs):
        with open(log, "a") as f:
            for i in seqs:
                f.write(_json.dumps({"frame": "{}", "arrival_ms": i, "seq": i}) + "\n")

    def stream():
        opts = jvm.java.util.HashMap()
        opts.put("path", str(log))
        opts.put("maxFramesPerBatch", "2")
        src = jvm.binance_etl_spark.jvm.ReplaySource()
        options = jvm.org.apache.spark.sql.util.CaseInsensitiveStringMap(opts)
        none = spark.sparkContext._gateway.new_array(
            jvm.org.apache.spark.sql.connector.expressions.Transform, 0
        )
        table = src.getTable(src.inferSchema(options), none, opts)
        return table.newScanBuilder(options).build().toMicroBatchStream(str(tmp_path / "ckpt"))

    limit = jvm.org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

    def polls(s, start, n=4):
        return {_json.loads(s.latestOffset(start, limit).json())["index"] for _ in range(n)}

    append(range(11))
    r = stream()
    start = r.initialOffset()
    # the first batch catches up to the head, however often it is asked
    assert polls(r, start) == {11}
    end = r.latestOffset(start, limit)
    r.planInputPartitions(start, end)  # batch 0 constructed
    assert polls(r, end) == {11}  # drained: the head, and it stays there
    append(range(11, 16))
    assert polls(r, end) == {13}  # then paced from the start offset
    nxt = r.latestOffset(end, limit)
    assert len(r.planInputPartitions(end, nxt)) == 1
    assert polls(r, end) == {13}  # planning changes no answer
    assert polls(r, nxt) == {15}
    assert polls(r, r.latestOffset(nxt, limit)) == {16}
    # restart catch-up from an older `{"index": n}` checkpoint offset:
    # the committed offset resolves to its byte position, and the new
    # run's first batch catches up to the head
    r2 = stream()
    resumed = r2.deserializeOffset(_json.dumps({"index": 8}))
    assert _json.loads(resumed.json()) == _json.loads(r.deserializeOffset(resumed.json()).json())
    assert _json.loads(resumed.json())["pos"] == sum(
        len(line) for line in open(log, "rb").readlines()[:8]
    )
    assert polls(r2, resumed) == {16}
    assert polls(r2, r2.latestOffset(resumed, limit)) == {16}
