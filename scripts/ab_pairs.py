#!/usr/bin/env python3
"""Alternating parent/change pairs of the repo benchmark, with the gain verdict.

Runs N pairs of `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0`, one run in each of two checkouts (the parent commit's and the
change's), both runs of a pair on the same seed (seed0 + i). The side that
runs first alternates: the parent in even pairs, the change in odd ones.
Prints, per end-to-end metric of BENCHMARK.json, each side's median and
quartiles, then for the claimed metric the wins, losses, ties and verdict:

  - a pair is a win when the change's value is strictly better than the
    parent's (by the metric's `better` direction); equal values are ties and
    count for neither side;
  - a gain holds only with at least 10 pairs, wins in at least 9/10 of all
    pairs run (ties included in the count of pairs), and medians further
    apart, in the better direction, than the parent's interquartile range.

Usage, from the change's checkout:
  python3 scripts/ab_pairs.py --parent ../parent --change . \\
      --workload keyed-state --pairs 10 --seconds 12 --claim pass_s

Every run's numbers are also written as JSON to --out, if given, after each
pair. A run that fails, or reports a wrong result, stops the script with a
non-zero exit code.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

MIN_PAIRS = 10
WIN_SHARE = 0.9


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def score(parent, change, better):
    """Wins, losses and ties of the change over the parent, pair by pair."""
    wins = losses = ties = 0
    for p, c in zip(parent, change):
        if c == p:
            ties += 1
        elif (c < p) == (better == "lower"):
            wins += 1
        else:
            losses += 1
    return wins, losses, ties


def verdict(parent, change, better):
    """The gain rule above: returns (gain, wins, losses, ties, gap, iqr), where
    gap is the medians' difference in the better direction (positive = the
    change is better) and iqr the parent's interquartile range."""
    wins, losses, ties = score(parent, change, better)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    gap = pmed - cmed if better == "lower" else cmed - pmed
    iqr = pq3 - pq1
    n = len(parent)
    gain = n >= MIN_PAIRS and wins >= WIN_SHARE * n and gap > iqr
    return gain, wins, losses, ties, gap, iqr


def run_once(checkout, workload, seed, seconds):
    """One untraced run; returns its metrics {name: value}."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-4000:])
        sys.exit(f"ab_pairs: run failed in {checkout} (seed {seed}, exit {out.returncode})")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"ab_pairs: wrong result in {checkout} (seed {seed}): {lines[-1]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--claim", help="the end-to-end metric a gain is claimed on")
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    if a.claim and a.claim not in better:
        sys.exit(f"ab_pairs: {a.claim} is not an end-to-end metric: {sorted(better)}")

    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            runs[side].append(run_once(getattr(a, side), a.workload, seed, a.seconds))
        p, c = runs["parent"][-1], runs["change"][-1]
        shown = a.claim or next(iter(better))
        print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first): "
              f"{shown} {p[shown]:.4g} -> {c[shown]:.4g}", flush=True)
        if a.out:  # after every pair, so a failed run keeps the pairs before it
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "seconds": a.seconds, "seed0": a.seed0,
                           "runs": runs}, f, indent=1)

    print(f"\n{a.workload}, {a.pairs} pairs: median [q1, q3]")
    for name, dirn in better.items():
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        wins, losses, ties = score(p, c, dirn)
        print(f"  {name:18s} parent {pmed:10.4g} [{pq1:.4g}, {pq3:.4g}]  "
              f"change {cmed:10.4g} [{cq1:.4g}, {cq3:.4g}]  "
              f"({(cmed - pmed) / pmed if pmed else 0:+.1%}; "
              f"change better in {wins}, worse in {losses}, "
              f"tied {ties})")
    if a.claim:
        p = [r[a.claim] for r in runs["parent"]]
        c = [r[a.claim] for r in runs["change"]]
        gain, wins, losses, ties, gap, iqr = verdict(p, c, better[a.claim])
        print(f"\nclaim {a.claim} ({better[a.claim]} is better): {wins} wins, {losses} losses, "
              f"{ties} ties of {len(p)}; median gap {gap:.4g} vs parent IQR {iqr:.4g}")
        print(f"verdict: {'GAIN' if gain else 'NO GAIN'}")


if __name__ == "__main__":
    main()
