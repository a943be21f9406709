"""Replay source: JSONL frame spools read by the engine jar's ``replay``
data source (``jvm/ReplaySource.java``).

Each spool line is one ``{"frame", "arrival_ms", "seq"}`` object, read as
``FRAME_SCHEMA``. The reference processes each websocket frame as it
arrives (base.py:47-60); the engine lands frames in a spool and streams
the spool, so a restart replays from a checkpointed position in the log
(SURVEY.md §4.2 custom-source decision). A live websocket source is the
same reader over a spool its socket drain appends to (websocket.py).

Stream offsets are ``{"index": n, "pos": p}``: ``n`` frames precede the
point and ``p`` is its byte offset, so a trigger reads only the bytes past
its start and planning never rescans the log. Checkpoints holding the
older ``{"index": n}`` form resume (the position is found by one scan).
A stream admits only newline-terminated lines, so a spool caught
mid-append serves its partial last line once it is complete. The first
batch of a query run catches up to the log head; each later batch admits
at most ``maxFramesPerBatch`` frames (the engine twin of the reference's
batch_size flush trigger, storage.py:22-36), counted from the batch's
start offset, so every run plans the same batch sequence.

Scale: a batch splits into byte-range partitions of ``linesPerPartition``
lines. Replay order is data (``seq``), not partition order: every ordered
consumer sorts by seq (book sync does in its state processor), and
many (market, symbol) streams parallelize across queries, the reference's
one-thread-per-stream model (factory.py:9-17) made cluster-wide.
"""

from __future__ import annotations

import os

from binance_etl_spark.session import ensure_engine_jar


def read_replay(spark, path: str, lines_per_partition: int | None = None):
    """Batch-mode scan of a replay log (the whole file)."""
    ensure_engine_jar(spark)
    r = spark.read.format("replay").option("path", os.path.abspath(path))
    if lines_per_partition is not None:
        r = r.option("linesPerPartition", str(lines_per_partition))
    return r.load()


def stream_replay(
    spark,
    path: str,
    max_frames_per_batch: int = 3,
    lines_per_partition: int | None = None,
):
    """Streaming scan; offsets checkpoint/restart like any source.
    `lines_per_partition` sizes the byte-range split of large catch-up
    batches."""
    ensure_engine_jar(spark)
    r = (
        spark.readStream.format("replay")
        .option("path", os.path.abspath(path))
        .option("maxFramesPerBatch", str(max_frames_per_batch))
    )
    if lines_per_partition is not None:
        r = r.option("linesPerPartition", str(lines_per_partition))
    return r.load()
