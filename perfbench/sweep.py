#!/usr/bin/env python3
"""Run workloads over several seeds and append each run's result to a
runs file for compare.py.

    python3 perfbench/sweep.py --out runs.jsonl [--workloads a,b] [--seeds 1-10]
                               [--seconds N] [--trace 0|1]

Runs one at a time; --seconds defaults to BENCHMARK.json's run_seconds.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    for workload in args.workloads.split(","):
        for seed in seeds:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not last.startswith('{"correct"'):
                print(f"{workload} seed {seed}: run failed (exit {proc.returncode})", file=sys.stderr)
                continue
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, "trace": args.trace,
                                    "result": json.loads(last)}) + "\n")
            print(f"{workload} seed {seed}: {last}", flush=True)


if __name__ == "__main__":
    main()
