"""Open-loop spool generator for the ``ingest_live`` workload.

Runs as its own single-threaded process so that its schedule never
slows when the engine does. It appends Binance-shaped frames to four
spool files in the line format of ``sources/websocket.py``
(``{"frame", "arrival_ms", "seq"}``, whole lines, one write per file
per tick), with ``arrival_ms`` stamped as the frame's creation time:
the time it was due, so a stalled generator shows as latency too.

Protocol on stdin/stdout (one JSON object per line):

1. start-up: write the backlog (``BACKLOG_S`` seconds of frames that
   arrived during an outage) to the files ``spool_paths`` names, print
   ``{"ready": <frames per stream>}``; the book snapshots the depth
   frames bridge are ``snapshots()``;
2. read ``go``: start the live schedule at a fixed offered rate, paced
   from that moment on whatever the engine does;
3. read ``stop``: print ``{"heads": ..., "gaps": ..., "late_ms": ...}``
   and exit.

Run standalone::

    python3 perfbench/feed.py --dir spools --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import random
import select
import sys
import time

TICK_S = 0.01
BACKLOG_S = 90.0  # seconds of outage the restart catches up on

# (market, symbol, event, mean frames/s). The depth cadence is the
# 100 ms diff-depth stream Binance documents. The trade rates are not
# taken from real traffic: together they are an offered load that the
# engine sustains on 4 cores with a flat backlog (perfbench/README.md,
# "Offered rate", has the probe). Trades arrive in bursts around the
# mean; the burst regime constants shape the arrivals and were chosen,
# not measured.
STREAMS = (
    ("spot", "BNBUSDT", "trade", 120.0),
    ("spot", "BNBUSDT", "depth", 10.0),
    ("usdm_futures", "BTCUSDT", "trade", 200.0),
    ("usdm_futures", "BTCUSDT", "depth", 10.0),
)
GAP_SHARE = 0.01  # depth frames whose update ids skip ahead
BURST_ON, BURST_OFF = 0.02, 0.15  # per-tick regime switch probabilities
BURST_GAIN = 4.0
BASE_PRICE = {"BNBUSDT": 598.0, "BTCUSDT": 60100.0}
SNAPSHOT_ID = {"BNBUSDT": 1000, "BTCUSDT": 5000}


def stream_key(market: str, symbol: str, event: str) -> str:
    return f"{market}.{symbol.lower()}.{event}"


def snapshots() -> dict[str, dict]:
    """REST book snapshot per symbol; the first depth frame bridges it
    (spot: U <= lastUpdateId+1 <= u, futures: U <= lastUpdateId <= u)."""
    out = {}
    for sym, px in BASE_PRICE.items():
        out[sym] = {
            "lastUpdateId": SNAPSHOT_ID[sym],
            "bids": [[f"{px - 0.1 * i:.8f}", f"{1.0 + i:.8f}"] for i in range(5)],
            "asks": [[f"{px + 0.1 * (i + 1):.8f}", f"{1.5 + i:.8f}"] for i in range(5)],
        }
    return out


def _poisson(rng: random.Random, lam: float) -> int:
    # Knuth: lam per tick is small (<= ~10)
    limit, k, p = pow(2.718281828459045, -lam), 0, 1.0
    while True:
        p *= rng.random()
        if p <= limit:
            return k
        k += 1


class Stream:
    """One spool: seeded frame contents and arrival counts per tick."""

    def __init__(self, market: str, symbol: str, event: str, rate: float, seed: int, idx: int):
        self.market, self.symbol, self.event, self.rate = market, symbol, event, rate
        self.rng = random.Random(seed * 1009 + idx)
        self.seq = 0
        self.trade_id = 1_000_000 * (idx + 1)
        first = SNAPSHOT_ID[symbol]
        # spot bridge: U <= L+1 <= u; futures bridge: U <= L <= u
        self.next_u = first + 1 if market == "spot" else first - 1
        self.prev_u = self.next_u - 1
        self.burst = False
        self.depth_phase = self.rng.random()
        self.gaps: list[int] = []  # last_update_id of frames after a gap

    def count(self) -> int:
        """Frames arriving in one tick."""
        if self.event == "depth":
            self.depth_phase += self.rate * TICK_S
            n = int(self.depth_phase)
            self.depth_phase -= n
            return n
        if self.burst and self.rng.random() < BURST_OFF:
            self.burst = False
        elif not self.burst and self.rng.random() < BURST_ON:
            self.burst = True
        # calm/burst mix keeps the long-run mean at `rate`
        calm = self.rate / (1 + (BURST_GAIN - 1) * BURST_ON / (BURST_ON + BURST_OFF))
        lam = calm * (BURST_GAIN if self.burst else 1.0) * TICK_S
        return _poisson(self.rng, lam)

    def frame(self, event_ms: int) -> str:
        rng = self.rng
        px = BASE_PRICE[self.symbol] * (1 + rng.uniform(-0.002, 0.002))
        if self.event == "trade":
            self.trade_id += 1
            ev = {
                "e": "trade", "E": event_ms, "s": self.symbol, "t": self.trade_id,
                "p": f"{px:.8f}", "q": f"{rng.uniform(0.001, 5):.8f}",
                "m": rng.random() < 0.5,
            }
        else:
            first = self.next_u
            if self.seq > 0 and rng.random() < GAP_SHARE:
                first += rng.randint(1, 50)
            last = first + rng.randint(1, 6)
            if self.seq > 0 and first != self.prev_u + 1:
                self.gaps.append(last)
            ev = {"e": "depthUpdate", "E": event_ms, "s": self.symbol, "U": first, "u": last}
            if self.market != "spot":
                # futures frames chain by pu = previous frame's u; a gap
                # breaks the chain
                ev["pu"] = self.prev_u if first == self.prev_u + 1 else self.prev_u - 1
            ev["b"] = [
                [f"{px - 0.1 * rng.randint(1, 60):.8f}", f"{rng.choice((0.0, rng.uniform(0.01, 9))):.8f}"]
                for _ in range(rng.randint(1, 40))
            ]
            ev["a"] = [
                [f"{px + 0.1 * rng.randint(1, 60):.8f}", f"{rng.choice((0.0, rng.uniform(0.01, 9))):.8f}"]
                for _ in range(rng.randint(1, 40))
            ]
            self.prev_u = last
            self.next_u = last + 1
        return json.dumps(ev, separators=(",", ":"))

    def lines(self, n: int, due_ms: int) -> str:
        out = []
        for _ in range(n):
            rec = {"frame": self.frame(due_ms - 3), "arrival_ms": due_ms, "seq": self.seq}
            out.append(json.dumps(rec) + "\n")
            self.seq += 1
        return "".join(out)


def spool_paths(directory: str) -> dict[str, str]:
    """Stream key -> spool file, one per entry of ``STREAMS``."""
    return {
        stream_key(market, symbol, event): os.path.join(directory, f"{market}_{symbol}_{event}.jsonl")
        for market, symbol, event, _ in STREAMS
    }


def _append(fd: int, text: str) -> None:
    data = text.encode()
    while data:
        data = data[os.write(fd, data):]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)

    os.makedirs(a.dir, exist_ok=True)
    streams = [Stream(*spec, a.seed, i) for i, spec in enumerate(STREAMS)]
    paths = spool_paths(a.dir)
    fds = [os.open(p, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644) for p in paths.values()]
    try:
        # backlog: the outage's frames, stamped with past due times. The
        # count per stream is the mean rate times the outage, whatever
        # the seed, so every seed's catch-up moves the same number of frames
        now_ms = int(time.time() * 1000)
        for fd, s in zip(fds, streams):
            n = int(s.rate * BACKLOG_S)
            dues = sorted(now_ms - int(s.rng.random() * BACKLOG_S * 1000) for _ in range(n))
            _append(fd, "".join(s.lines(1, due) for due in dues))
        backlog = {k: s.seq for k, s in zip(paths, streams)}
        print(json.dumps({"ready": backlog}), flush=True)

        if sys.stdin.readline().strip() != "go":
            return 2
        t0 = time.time()
        late_ms: list[float] = []
        tick = 0
        while True:
            due_s = t0 + tick * TICK_S
            wait = due_s - time.time()
            ready, _, _ = select.select([sys.stdin], [], [], max(0.0, wait))
            if ready:
                line = sys.stdin.readline()
                if not line or line.strip() == "stop":  # stop, or the benchmark is gone
                    break
                continue
            now = time.time()
            late_ms.append((now - due_s) * 1000.0)
            due_ms = int(due_s * 1000)
            for fd, s in zip(fds, streams):
                n = s.count()
                if n:
                    _append(fd, s.lines(n, due_ms))
            tick += 1
        print(
            json.dumps(
                {
                    "heads": {k: s.seq for k, s in zip(paths, streams)},
                    "gaps": {k: s.gaps for k, s in zip(paths, streams) if s.event == "depth"},
                    "late_ms": late_ms,
                    "live_s": time.time() - t0,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        for fd in fds:
            os.close(fd)


if __name__ == "__main__":
    sys.exit(main())
