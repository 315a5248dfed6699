#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for every
end-to-end metric, the median and the spread (distance between the first
and third quartile as a share of the median) against the bound in
BENCHMARK.json, plus each run's wall time.

    python3 perfbench/steadiness.py --workload burst_large --seeds 1 2 3 4 5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls, bad = {}, [], 0
    for seed in a.seeds:
        t = time.time()
        p = subprocess.run(["python3", os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            bad += 1
            print(f"seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.0f} s  " +
              "  ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"\n{a.workload}: {len(a.seeds) - bad}/{len(a.seeds)} runs ok, wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    worst = 0.0
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        spread = (q[2] - q[0]) / med if med else float("inf")
        b = bounds.get(k)
        share = spread / b if b else float("nan")
        if k != "setup_s":
            worst = max(worst, share)
        print(f"  {k:<18} median {med:12.4f}  spread {spread:7.2%}  bound {b}  spread/bound {share:5.2f}")
    print(f"  worst spread/bound (setup_s excluded): {worst:.2f} (aim: below 0.33)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
