#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench runs from two checkouts.

    python3 tools/abpairs.py PARENT CHANGE --workload ais_trips --pairs 8
        [--seconds 10] [--first-seed 1] [--bench FILE] [--out FILE]

Pair i runs `python3 perfbench/run.py --workload W --seed S --seconds T`
(S = first seed + i) once in each checkout, one after the other; the side
that goes first alternates from pair to pair, so a slow period on a shared
machine does not always land on the same side. Each checkout builds and runs
its own sources (run.py builds into the checkout's .bench_build/ on first
use, so build both before timing anything you care about).

Per end-to-end metric of BENCHMARK.json it then prints: both medians, the
parent's IQR (absolute and as a share of its median), how many pairs the
change won, and how much worse the change's median is than the parent's,
as a share of the parent's median, beside the metric's bound ("OVER" when
it exceeds it). A positive worse-by is a regression whichever way the
metric points. A last column says whether a gain on that metric would be
accepted: the change wins at least 9/10 of the pairs (a tie counts for
neither side) and its median is better than the parent's by more than the
parent's IQR. BENCHMARK.json is only read: by default the CHANGE
checkout's, or the file given with --bench. --out writes every run's
result as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns its parsed result, or None if it printed
    none (a failed build or JVM)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        print(f"  {checkout} seed {seed}: no result (exit {p.returncode})",
              flush=True)
        return None
    res["wall_s"] = time.time() - t0
    res["exit"] = p.returncode
    return res


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def gain_holds(wins, pairs, better_by, parent_iqr):
    """A claimed gain is accepted when the change wins at least 9 of every
    10 pairs and its median beats the parent's by more than the parent's
    IQR (`better_by` in the metric's unit, positive when better)."""
    return pairs > 0 and 10 * wins >= 9 * pairs and better_by > parent_iqr


def report(spec, runs):
    pairs = [(a, b) for a, b in zip(runs["parent"], runs["change"])
             if a is not None and b is not None]
    print(f"\n{len(pairs)} complete pairs")
    for side in ("parent", "change"):
        rs = [r for r in runs[side] if r is not None]
        print(f"{side}: {len(rs)} runs, "
              f"{sum(not r['correct'] for r in rs)} incorrect, "
              f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}"
              " failed/attempted operations")
    if not pairs:
        return
    print(f"\n{'metric':<18} {'parent':>11} {'change':>11} "
          f"{'parent IQR':>11} {'IQR/med':>8} {'wins':>6} "
          f"{'worse-by':>9} {'bound':>6}  gain")
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        a = [p[0]["metrics"][name]["value"] for p in pairs]
        b = [p[1]["metrics"][name]["value"] for p in pairs]
        ma, mb = statistics.median(a), statistics.median(b)
        spread = iqr(a)
        wins = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
        better = (mb - ma) if higher else (ma - mb)
        worse = -better / ma if ma else 0.0
        flag = "  OVER" if worse > m["bound"] else "      "
        gain = gain_holds(wins, len(pairs), better, spread)
        print(f"{name:<18} {ma:>11.4g} {mb:>11.4g} {spread:>11.4g} "
              f"{(spread / ma if ma else 0.0):>8.3f} "
              f"{wins:>3}/{len(pairs):<2} {worse:>+9.3f} "
              f"{m['bound']:>6}{flag}  {'holds' if gain else 'no'}")


def main():
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=8)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--bench")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(a.bench or os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], a.workload, seed, a.seconds)
            runs[side].append(res)
            if res is not None:
                shown = ", ".join(
                    f"{k} {v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"pair {i + 1} seed {seed} {side}: {shown}"
                      f"{'' if res['correct'] else '  INCORRECT'}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds,
                       "first_seed": a.first_seed, "runs": runs}, f, indent=1)
    report(spec, runs)


if __name__ == "__main__":
    main()
