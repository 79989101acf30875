#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report each metric's
median and quartile spread ((Q3 - Q1) / median, from
statistics.quantiles(values, n=4)).

    python3 perfbench/steadiness.py --workload trace-ingest --runs 10

Run i uses seed i and BENCHMARK.json's run_seconds, as the benchmark's
evaluation does.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_seconds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)["run_seconds"]


def run_once(workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    wall = time.time() - t0
    lines = proc.stdout.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr.decode()[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return {"seed": seed, "wall_s": wall, "result": json.loads(lines[-1])}


def report(rows):
    by_metric = {}
    for r in rows:
        for name, m in r["result"]["metrics"].items():
            by_metric.setdefault(name, []).append(m["value"])
    walls = [r["wall_s"] for r in rows]
    print(f"runs: {len(rows)}  wall per run: median {statistics.median(walls):.1f} s,"
          f" max {max(walls):.1f} s")
    for name, vs in by_metric.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"  {name:32s} median {med:14.6g}  Q1 {q1:14.6g}  Q3 {q3:14.6g}"
              f"  spread {(q3 - q1) / med:7.2%}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    seconds = run_seconds()
    rows = []
    for seed in range(1, args.runs + 1):
        r = run_once(args.workload, seed, seconds)
        rows.append(r)
        print(f"seed {seed}: {r['wall_s']:.1f} s "
              + json.dumps({n: round(m['value'], 4) for n, m in
                            r['result']['metrics'].items()}), flush=True)
    report(rows)


if __name__ == "__main__":
    main()
