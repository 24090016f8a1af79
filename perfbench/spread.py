#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end metric's
median and spread (interquartile range as a share of the median) next to
the bound BENCHMARK.json fixes for it.

    python3 perfbench/spread.py --workload batch_pipeline --seeds 1 2 3 4 5

Exits non-zero if a run fails or a spread exceeds a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a spread must stay under this share of its metric's bound
SHARE = 1 / 3


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {name: [] for name in bounds}
    failed = False
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            failed = True
            continue
        result = json.loads(lines[-1])
        print(f"seed {seed}: attempted {result['attempted']} failed {result['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(result["metrics"].items())),
              flush=True)
        for name in bounds:
            values[name].append(result["metrics"][name]["value"])
    if len(args.seeds) >= 2:
        for name, vs in values.items():
            if len(vs) < 2:
                continue
            med, spr = spread(vs)
            ok = spr <= SHARE * bounds[name]
            failed |= not ok
            print(f"{name:14s} median {med:12.4f}  spread {spr:6.3f}  "
                  f"bound {bounds[name]:.3f}  {'ok' if ok else 'TOO WIDE'}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
