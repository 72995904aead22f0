#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage (from the root of a checkout):
  python3 perfbench/spread.py --workload W --seeds 1 2 3 ...

Runs the benchmark once per seed, then prints for each end-to-end metric
the median over the runs and the distance between the first and third
quartile as a share of the median (statistics.quantiles(n=4)), beside the
metric's bound in BENCHMARK.json.
The benchmark is steady when every spread but setup_s's is below its bound;
the target is a third of it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import stats  # noqa: E402


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    a = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    runs = []
    for seed in a.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                              "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-1500:]}")
            continue
        res = json.loads(last)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}")
        runs.append({k: v["value"] for k, v in res["metrics"].items()})
    if len(runs) < 2:
        sys.exit("need at least two runs")
    print(f"{a.workload}: {len(runs)} runs")
    for m in spec["end_to_end"]:
        vals = [r[m["name"]] for r in runs]
        spread = stats.quartile_spread(vals)
        flag = "" if spread < m["bound"] / 3 else (" above bound/3" if spread < m["bound"]
                                                  else " ABOVE BOUND")
        print(f"  {m['name']:18s} median {statistics.median(vals):12.5g} {m['unit']:8s} "
              f"spread {spread:6.3f}  bound {m['bound']:.2f}{flag}")


if __name__ == "__main__":
    main()
