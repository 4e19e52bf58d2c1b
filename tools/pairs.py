#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs.

Runs `perfbench/run.py` unchanged in two checkouts, one pair of runs per
seed, flipping which side runs first on every other seed, then prints
for each metric the two medians, the parent's interquartile range and
how many pairs the change won. A run whose result line reads
`correct = false` or `failed > 0`, or that printed no result line, is
flagged.

    python3 tools/pairs.py --parent ../parent --change . \\
        --workload vector_dedup --seeds 301-310 [--seconds 5] [--trace 0]

Each checkout builds and keeps its records in its own `.bench_build`
(CARGO_TARGET_DIR is cleared for the runs so the two never share one).
Metric directions come from the change checkout's BENCHMARK.json. Run
nothing else CPU-heavy meanwhile.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 301-310 or 41,43,45")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="also write every run's result line to this JSON file")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    results = []  # (seed, {side: result line or None})
    flagged = []
    for i, seed in enumerate(seed_list(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            pair[side] = r
            if r is None:
                flagged.append(f"seed {seed} {side}: no result line")
            elif not r.get("correct") or r.get("failed", 0) > 0:
                flagged.append(f"seed {seed} {side}: correct={r.get('correct')} "
                               f"failed={r.get('failed')}")
        results.append((seed, pair))
        brief = {s: (pair[s] or {}).get("metrics", {}) for s in order}
        print(f"seed {seed}: " + "  ".join(
            f"{s} " + " ".join(f"{n}={v['value']:.4g}" for n, v in sorted(brief[s].items())
                               if n in ("wall_s", "cpu_s", "heap_peak_mb", "setup_s"))
            for s in order), file=sys.stderr, flush=True)

    if a.out:
        with open(a.out, "w") as f:
            json.dump([{"seed": s, **p} for s, p in results], f, indent=1)

    complete = [(s, p) for s, p in results if p["parent"] and p["change"]]
    names = sorted({n for _, p in complete for n in p["change"]["metrics"]})
    print(f"{a.workload}: {len(complete)} complete pairs")
    print(f"{'metric':34} {'parent':>12} {'change':>12} {'change/parent':>13} "
          f"{'parent IQR':>11} {'wins':>6}")
    for n in names:
        par = [p["parent"]["metrics"][n]["value"] for _, p in complete
               if n in p["parent"]["metrics"]]
        chg = [p["change"]["metrics"][n]["value"] for _, p in complete
               if n in p["change"]["metrics"]]
        if not par or not chg:
            continue
        sign = -1 if better.get(n, "lower") == "lower" else 1
        wins = sum(1 for _, p in complete if n in p["parent"]["metrics"]
                   and sign * (p["change"]["metrics"][n]["value"]
                               - p["parent"]["metrics"][n]["value"]) > 0)
        mp, mc = statistics.median(par), statistics.median(chg)
        ratio = f"{mc / mp:.3f}" if mp else "-"
        print(f"{n:34} {mp:12.4g} {mc:12.4g} {ratio:>13} {iqr(par):11.4g} "
              f"{wins:>3}/{len(par)}")
    for line in flagged:
        print("FLAGGED " + line)
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
