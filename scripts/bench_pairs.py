"""Alternating A/B pairs of the repo benchmark, with host CPU steal per run.

    python scripts/bench_pairs.py --parent ../parent --change . \\
        --workload ingest_live --pairs 10 --seed 21 --log pairs.jsonl

Pair i runs ``perfbench/run.py --seed SEED+i`` once in each checkout, in
a fresh process each; the side that goes first alternates, so a drift of
the host shows up on both sides. Around every run the script reads the
``steal`` ticks of ``/proc/stat``, since CPU time taken by other guests
slows a run the same way slower code does. Each run is appended to
``--log`` as one JSON line when it ends. At the end the script prints,
per workload and end-to-end metric of ``BENCHMARK.json``, the median and
quartiles of each side, the ratio of the medians, how many pairs the
change won, whether the median gap exceeds the parent's IQR, and every
run's exit code and failed/attempted counts. The same summary follows,
ungated, for the printed secondary lines ``latency_p90_ms``,
``rss.python_mb`` and ``rss.jvm_mb`` (the tail and where the memory
sits), parsed from each run's ``name value unit`` lines. It only drives
``perfbench/run.py``, at the run length of its own default, and never
edits it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# printed by perfbench/run.py beside the gated metrics; all lower-is-better
SECONDARY = ("latency_p90_ms", "rss.python_mb", "rss.jvm_mb")


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # where guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


def run_once(checkout: str, workload: str, seed: int) -> dict:
    s0, t0 = _steal_ticks()
    wall0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    wall = time.perf_counter() - wall0
    s1, t1 = _steal_ticks()
    lines = out.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    return {
        "printed": _printed(lines),
        "exit": out.returncode, "wall_s": round(wall, 2), "steal_ticks": s1 - s0,
        "steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2),
        "stderr_tail": out.stderr[-2000:] if out.returncode else "", **result,
    }


def _printed(lines: list[str]) -> dict[str, float]:
    """The run's ``name value unit`` lines as {name: value}."""
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) == 3:
            try:
                out[parts[0]] = float(parts[1])
            except ValueError:
                pass
    return out


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _value(run: dict, name: str) -> float:
    m = run["metrics"].get(name, run.get("printed", {}).get(name, float("nan")))
    return m["value"] if isinstance(m, dict) else m


def _has(run: dict, name: str) -> bool:
    return name in run["metrics"] or name in run.get("printed", {})


def summarize(runs: list[dict], declared: list[dict]) -> list[str]:
    out = []
    for wl in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict] = {}
        for r in runs:
            if r["workload"] == wl:
                pairs.setdefault(r["pair"], {})[r["side"]] = r
        full = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        out.append(f"## {wl}: {len(full)} pairs")
        out.append("| metric | parent median [Q1, Q3] | change median [Q1, Q3] | ratio | wins | gap > parent IQR |")
        out.append("|---|---|---|---|---|---|")
        secondary = [{"name": n, "better": "lower"} for n in SECONDARY]
        for m in declared + secondary:
            name, lower = m["name"], m["better"] == "lower"
            if m is secondary[0]:
                out.append("| *printed, not gated* | | | | | |")
            both = [p for p in full if all(_has(p[s], name) for s in ("parent", "change"))]
            if not both:
                continue
            a = [_value(p["parent"], name) for p in both]
            b = [_value(p["change"], name) for p in both]
            (aq1, am, aq3), (bq1, bm, bq3) = _quartiles(a), _quartiles(b)
            wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
            better = (bm < am) if lower else (bm > am)
            out.append(
                f"| `{name}` | {am:.4g} [{aq1:.4g}, {aq3:.4g}] | {bm:.4g} [{bq1:.4g}, {bq3:.4g}] "
                f"| {bm / am if am else float('nan'):.3f} | {wins}/{len(both)} "
                f"| {'yes' if better and abs(bm - am) > aq3 - aq1 else 'no'} |"
            )
        names = [m["name"] for m in declared]
        out.append("")
        out.append("| seed | first | steal ticks p / c | " + " | ".join(f"{n} p / c" for n in names) + " |")
        out.append("|---" * (3 + len(names)) + "|")
        for p in full:
            a, b = p["parent"], p["change"]
            first = "parent" if a["pair"] % 2 == 0 else "change"
            cells = [f"{_value(a, n):.4g} / {_value(b, n):.4g}" for n in names]
            out.append(f"| {a['seed']} | {first} | {a['steal_ticks']} / {b['steal_ticks']} | " + " | ".join(cells) + " |")
        for side in ("parent", "change"):
            rs = [p[side] for p in full]
            out.append(
                f"- {side}: exits {[r['exit'] for r in rs]}, failed/attempted "
                f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}, "
                f"correct {all(r['correct'] for r in rs)}, steal % of CPU time {[r['steal_pct'] for r in rs]}"
            )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True, help="repeatable")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=21, help="pair i runs seed SEED+i on both sides")
    ap.add_argument("--log", help="append every run as a JSON line")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = []
    for wl in args.workload:
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_once(sides[side], wl, args.seed + i)
                r.update(workload=wl, pair=i, seed=args.seed + i, side=side)
                runs.append(r)
                print(f"# {wl} pair {i} {side}: exit {r['exit']} steal {r['steal_pct']}% "
                      f"{json.dumps(r['metrics'])}", file=sys.stderr, flush=True)
                if args.log:
                    with open(args.log, "a") as f:
                        f.write(json.dumps(r) + "\n")
    print("\n".join(summarize(runs, declared)))
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
