"""Live websocket source — the thin production variant of the replay
reader (SURVEY.md §7 M4: "same reader, different frame iterator").

The reference subscribes via binance-connector's
SpotWebsocketStreamClient and processes frames on its socket thread
(reference base.py:26, spot_trades_etl.py:20).  Here the socket drain
writes frames to a local JSONL spool file — append-only, one frame per
line with arrival time stamped at receipt (the reference's
local_timestamp, base.py:52) — and the engine streams the spool through
the SAME `replay` data source (sources/replay.py), so offsets,
checkpointing, restart, and every downstream operator are identical
between live and replay runs. The source admits only newline-terminated
lines, so a frame the drain writes in several `write()` calls lands
once it is whole.

No network is touched unless `start_spool` is called; CI/tests use
replay fixtures only (SURVEY.md §5.2).  binance-connector /
websocket-client are optional imports gated behind the call.
"""

from __future__ import annotations

import json
import time

from binance_etl_spark.sources.replay import stream_replay


def start_spool(symbol: str, stream: str, spool_path: str):
    """Subscribe to a live Binance stream, appending frames to
    `spool_path`. Returns a stop() callable. Requires the optional
    `binance-connector` package (not installed in CI)."""
    try:
        from binance.websocket.spot.websocket_stream import (  # type: ignore[import-not-found]
            SpotWebsocketStreamClient,
        )
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError(
            "live websocket ingestion requires the optional "
            "'binance-connector' package; use the replay source "
            "(binance_etl_spark.sources.replay) for offline runs"
        ) from exc

    spool = open(spool_path, "a", buffering=1)
    seq = {"n": 0}

    def on_message(_, frame: str) -> None:
        rec = {"frame": frame, "arrival_ms": int(time.time() * 1000), "seq": seq["n"]}
        spool.write(json.dumps(rec) + "\n")
        seq["n"] += 1

    client = SpotWebsocketStreamClient(on_message=on_message)
    if stream == "trade":
        client.trade(symbol=symbol)
    elif stream == "depth":
        client.diff_book_depth(symbol=symbol)
    else:
        raise ValueError(f"unknown stream {stream!r}; expected 'trade' or 'depth'")

    def stop() -> None:
        client.stop()
        spool.close()

    return stop


def start_spool_raw(
    host: str,
    port: int,
    path: str,
    spool_path: str,
    tls: bool = False,
    ssl_context=None,
):
    """Subscribe via the engine's own dependency-free RFC 6455 client
    (sources/ws_client.py) and drain text frames to `spool_path` on a
    background thread — the same socket->spool glue as `start_spool`
    without the optional binance-connector package. ``tls=True`` wraps
    the socket with ``ssl.create_default_context()`` (system trust
    store + hostname verification), so the real ``wss://`` Binance
    endpoint is reachable directly; ``ssl_context`` overrides the
    context (tests verify against a self-signed loopback CA).
    Returns a stop() callable that closes the socket and joins the
    drain thread. Exercised end-to-end against an in-process loopback
    server — plaintext AND TLS — in tests/test_ws_live_loopback.py."""
    import threading

    from binance_etl_spark.sources.ws_client import WebSocketClient

    client = WebSocketClient(host, port, path, tls=tls, ssl_context=ssl_context)
    spool = open(spool_path, "a", buffering=1)
    done = threading.Event()

    def drain() -> None:
        seq = 0
        try:
            for frame in client.text_messages():
                rec = {
                    "frame": frame,
                    "arrival_ms": int(time.time() * 1000),
                    "seq": seq,
                }
                spool.write(json.dumps(rec) + "\n")
                seq += 1
        except (ConnectionError, OSError, ValueError):
            pass  # socket torn down by stop() or by the peer
        finally:
            spool.close()
            done.set()

    t = threading.Thread(target=drain, name="ws-spool-drain", daemon=True)
    t.start()

    def stop() -> None:
        client.close()
        done.wait(timeout=10)
        t.join(timeout=10)

    return stop


def stream_live(spark, spool_path: str, max_frames_per_batch: int = 1000):
    """Streaming DataFrame over a live spool (or any growing JSONL):
    identical plan to stream_replay — the spool IS a replay log."""
    return stream_replay(spark, spool_path, max_frames_per_batch)
