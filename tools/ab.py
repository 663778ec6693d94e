#!/usr/bin/env python3
"""Alternating A/B runs of the benchmark between two checkouts.

    python3 tools/ab.py --parent DIR --change DIR --workload wordcount \
        [--seeds 301-310]

Each seed is one pair: `python3 perfbench/run.py` (the command in
BENCHMARK.json, at its run_seconds) runs once in each checkout, and the
side that runs first alternates from pair to pair. For every end-to-end
metric it prints each side's median and quartiles (statistics.quantiles,
n=4), the change's win count (ties count for neither side) and two
verdicts:

  gain   the change wins at least 9/10 of the pairs and the medians
         differ by more than the parent's interquartile distance;
  bound  the change's median is no worse than the parent's by more than
         the metric's BENCHMARK.json bound.

Every run must be correct; a run that fails or reports a wrong result
stops the comparison. The benchmark itself is only invoked, never
changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
from spread import seeds  # noqa: E402


def run(checkout, bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    res = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    if res.returncode != 0:
        sys.exit(f"{checkout} seed {seed}: exit {res.returncode}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if not out["correct"] or out["failed"]:
        sys.exit(f"{checkout} seed {seed}: incorrect ({out['failed']} failed)")
    return wall, {k: v["value"] for k, v in out["metrics"].items()}


def quartiles(vs):
    return statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="301-310", help="one seed per pair")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    metrics = bench["end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    got = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            wall, m = run(sides[side], bench, a.workload, seed)
            got[side].append(m)
            print(f"pair {i + 1} seed {seed} {side}: {wall:.1f} s wall", file=sys.stderr)
    n = len(got["parent"])
    print(f"{a.workload}: {n} alternating pairs, seeds {a.seeds}")

    def summary(med, q):
        return f"{med:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    print(f"{'metric':14s} {'parent median [q1, q3]':30s} {'change median [q1, q3]':30s}"
          f" {'delta':>7s} {'wins':>5s}  gain  bound")
    for spec in metrics:
        k, lower = spec["name"], spec["better"] == "lower"
        p = [m[k] for m in got["parent"]]
        c = [m[k] for m in got["change"]]
        wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        pm, cm = statistics.median(p), statistics.median(c)
        pq, cq = quartiles(p), quartiles(c)
        gain = (wins >= 0.9 * n and (cm < pm if lower else cm > pm)
                and abs(cm - pm) > pq[2] - pq[0])
        worse = (cm - pm) / pm if lower else (pm - cm) / pm
        print(f"{k:14s} {summary(pm, pq):30s} {summary(cm, cq):30s} {(cm - pm) / pm:+7.1%}"
              f" {wins:2d}/{n:<2d}  {'yes' if gain else 'no':4s}  "
              f"{'ok' if worse <= spec['bound'] else 'WORSE'}")


if __name__ == "__main__":
    main()
