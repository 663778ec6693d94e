#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload lake_cdc --seeds 1-5 [--trace 0]

For every metric: the median over the seeds and the spread, i.e. the
distance between the first and third quartile (statistics.quantiles,
n=4) as a share of the median. End-to-end metrics are compared against a
third of their BENCHMARK.json bound (setup_s is reported, not gated:
its bound applies to medians only). Results are appended to
.bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t0 = time.time()
        res = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        if res.returncode != 0:
            sys.exit(f"seed {seed}: exit {res.returncode}")
        out = json.loads(res.stdout.strip().splitlines()[-1])
        if not out["correct"]:
            sys.exit(f"seed {seed}: incorrect ({out['failed']} failed)")
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s wall", file=sys.stderr)
    report = {"workload": a.workload, "seeds": a.seeds, "trace": a.trace,
              "wall_s": [round(w, 1) for w in walls], "metrics": {}}
    ok = True
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else 0.0
        limit = bounds.get(k)
        flag = ""
        if limit is not None and k != "setup_s":
            good = spread < limit / 3
            ok &= good
            flag = "ok" if good else f"WIDE (limit {limit / 3:.3f})"
        report["metrics"][k] = {"median": med, "spread": spread, "values": vs}
        print(f"{k:32s} median {med:12.4f}  spread {spread:7.3f}  {flag}")
        print("    " + " ".join(f"{v:.4g}" for v in vs))
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    os.makedirs(".bench_build", exist_ok=True)
    with open(".bench_build/spread.jsonl", "a") as fh:
        fh.write(json.dumps(report) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
