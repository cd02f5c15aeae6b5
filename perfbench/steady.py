#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py --workload hunt --seeds 1 2 3 4 5

Runs `perfbench/run.py` once per seed (untraced) from the repository root and
prints, per metric, the median and the interquartile range as a share of the
median (Python's statistics.quantiles, n=4), next to the metric's bound in
BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or spec["run_seconds"]
    runs = []
    for seed in a.seeds:
        t0 = time.time()
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"], capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {seed} ({time.time() - t0:.0f}s): correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        if len(vals) < 2:
            continue
        q = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        print(f"{m['name']:>16}: median {med:.4g} {m['unit']}, spread {(q[2] - q[0]) / med:.3f} (bound {m['bound']})")


if __name__ == "__main__":
    main()
