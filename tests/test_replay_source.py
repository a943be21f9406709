"""The `replay` data source (jvm/ReplaySource.java): what a batch read
returns, what a stream admits, and that checkpoints holding the older
`{"index": n}` offsets resume exactly once."""

from __future__ import annotations

import json
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from binance_etl_spark.runner import start_jobs
from binance_etl_spark.sources import fixtures as FX
from binance_etl_spark.sources.replay import read_replay, stream_replay
from binance_etl_spark.streaming.pipelines import stop_all


def _line(seq: int, **extra) -> str:
    rec = {"frame": json.dumps({"e": "trade", "t": seq}), "arrival_ms": 1000 + seq, "seq": seq}
    return json.dumps({**rec, **extra}) + "\n"


def test_batch_read_parses_each_line_like_a_json_decode(spark, tmp_path):
    log = tmp_path / "frames.jsonl"
    with open(log, "w") as f:
        f.write(_line(0))
        f.write(_line(1, extra={"nested": [1, {"x": None}]}, note="ignored"))
        f.write("\n")  # blank lines carry no frame
        f.write(json.dumps({"frame": "{}", "seq": 2}) + "\n")  # no arrival_ms
        f.write(json.dumps({"frame": None, "arrival_ms": None, "seq": 3}) + "\n")
        f.write(_line(4).rstrip("\n"))  # a finished file's unterminated last line
    rows = [tuple(r) for r in read_replay(spark, str(log), lines_per_partition=2).orderBy("seq").collect()]
    want = []
    for raw in log.read_text().splitlines():
        if raw.strip():
            rec = json.loads(raw)
            want.append((rec.get("frame"), rec.get("arrival_ms"), rec.get("seq")))
    assert rows == want
    assert read_replay(spark, str(log), lines_per_partition=2).rdd.getNumPartitions() == 3
    assert read_replay(spark, str(log)).schema.simpleString() == (
        "struct<frame:string,arrival_ms:bigint,seq:bigint>"
    )


@pytest.mark.parametrize("bad", ["not json", "[1, 2]", '{"frame": 7, "seq": 1}', '{"seq": "1"}'])
def test_a_line_that_is_not_a_frame_record_fails_the_read(spark, tmp_path, bad):
    log = tmp_path / "frames.jsonl"
    log.write_text(_line(0) + bad + "\n" + _line(2))
    with pytest.raises(Py4JJavaError, match="line 2 of .* is not a frame record"):
        read_replay(spark, str(log)).collect()


def test_stream_admits_a_partial_last_line_once_it_is_complete(spark, tmp_path):
    """A spool caught mid-append (a frame split over several writes)
    serves only its newline-terminated lines; the partial frame lands
    once, after its line is finished."""
    log = tmp_path / "spool.jsonl"
    whole = [_line(i) for i in range(6)]
    with open(log, "w") as f:
        f.writelines(whole[:3])
        f.write(whole[3][:17])
    q = (
        stream_replay(spark, str(log), 2)
        .writeStream.format("memory")
        .queryName("replay_partial_line")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
        seqs = lambda: sorted(r.seq for r in spark.table("replay_partial_line").collect())  # noqa: E731
        assert seqs() == [0, 1, 2]
        with open(log, "a") as f:
            f.write(whole[3][17:])
            f.writelines(whole[4:])
        q.processAllAvailable()
        assert seqs() == list(range(6))
        ends = [json.loads(p.json)["sources"][0]["endOffset"] for p in q.recentProgress]
        assert ends[-1] == {"index": 6, "pos": sum(len(w) for w in whole)}
    finally:
        q.stop()


def _multiset_hash(df) -> tuple[int, int]:
    h = df.select(F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)").alias("h"))
    n, s = h.agg(F.count("*"), F.sum("h")).first()
    return int(n), int(s or 0)


def test_index_only_checkpoint_offsets_resume_exactly_once(spark, tmp_path):
    """Checkpoints written before offsets carried a byte position hold
    `{"index": n}`. A trade and a depth query stopped with such offsets
    resume over a grown spool and land the rows of a fresh run, with no
    frame lost or repeated."""
    fx = FX.write_fixtures(str(tmp_path / "fx"))
    sym = FX.SYMBOL.lower()
    spools = {"trade": str(tmp_path / "trade.jsonl"), "depth": str(tmp_path / "depth.jsonl")}
    lines = {}
    for event, kind in (("trade", "trades"), ("depth", "depth")):
        with open(fx[kind]) as f:
            lines[event] = f.readlines()
        with open(spools[event], "w") as f:
            f.writelines(lines[event][:4])

    def config(root):
        return {
            "events": [f"binance.spot.{sym}.{e}" for e in spools],
            "storage": {"format": "parquet", "output_path": f"{root}/lake", "checkpoint_path": f"{root}/ckpt"},
            "sources": {f"{sym}.{e}": p for e, p in spools.items()},
            "snapshots": {FX.SYMBOL: FX.snapshot()},
            "max_frames": 2,
        }

    def run(root):
        queries = start_jobs(spark, config(root))
        try:
            for q in queries:
                q.processAllAvailable()
            return [q.recentProgress[0].batchId for q in queries]
        finally:
            stop_all(spark)

    resumed, fresh = str(tmp_path / "resumed"), str(tmp_path / "fresh")
    run(resumed)
    # rewrite every offset-log entry in the older form
    rewritten = 0
    for table in ("trades", "depth"):
        off_dir = os.path.join(resumed, "ckpt", "spot", sym, table, "offsets")
        for name in os.listdir(off_dir):
            path = os.path.join(off_dir, name)
            if name.startswith("."):
                os.remove(path)  # the .crc no longer matches
                continue
            with open(path) as f:
                version, meta, *offs = f.read().split("\n")
            old = [json.dumps({"index": json.loads(o)["index"]}) for o in offs]
            with open(path, "w") as f:
                f.write("\n".join([version, meta, *old]))
            rewritten += 1
    assert rewritten >= 2
    for event in spools:
        with open(spools[event], "a") as f:
            f.writelines(lines[event][4:])
    assert all(b > 0 for b in run(resumed))  # resumed, not re-run
    run(fresh)
    for table in ("trades", "depth"):
        got = spark.read.parquet(os.path.join(resumed, "lake", "spot", sym, table))
        want = spark.read.parquet(os.path.join(fresh, "lake", "spot", sym, table))
        assert _multiset_hash(got) == _multiset_hash(want), table
