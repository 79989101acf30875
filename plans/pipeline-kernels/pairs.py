#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench runs, and their report.

Usage:
    python3 pairs.py run PARENT CHANGE WORKLOAD FIRST_SEED LAST_SEED OUT.jsonl
    python3 pairs.py report OUT.jsonl

`run` runs `perfbench/run.py --workload WORKLOAD --seed S --seconds 8
--trace 0` once in each checkout per seed, the side that runs first
alternating by pair (the first pair starts with the parent), and
appends one JSON line per run to OUT.jsonl: seed, side, position in the
pair and the run's result line. A run that fails is recorded with its
exit code and no result.

`report` prints, in markdown, one row per pair with the five end-to-end
metrics and the failed-op counts, then per metric the parent's and the
change's median with inclusive quartiles, their ratio and the number of
pairs in which the change read better.
"""
import json
import statistics
import subprocess
import sys

METRICS = [("throughput_per_s", True), ("op_p50_ms", False),
           ("setup_s", False), ("peak_heap_mb", False),
           ("store_bytes_per_input_byte", False)]


def run(parent, change, workload, first, last, out):
    for i, seed in enumerate(range(first, last + 1)):
        sides = [("parent", parent), ("change", change)]
        if i % 2:
            sides.reverse()
        for pos, (side, root) in enumerate(sides):
            p = subprocess.run(
                ["python3", f"{root}/perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", "8", "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": workload, "seed": seed, "side": side,
                   "first": pos == 0, "code": p.returncode,
                   "result": json.loads(lines[-1]) if p.returncode == 0
                   and lines else None}
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(seed, side, p.returncode, flush=True)


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def fmt(v):
    return f"{v:,.0f}" if abs(v) >= 1000 else f"{v:.4g}"


def report(path):
    recs = [json.loads(l) for l in open(path)]
    pairs = {}
    for r in recs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    seeds = sorted(s for s, p in pairs.items() if len(p) == 2)
    val = lambda r, m: r["result"]["metrics"][m]["value"]
    failed = lambda r: r["result"]["failed"] if r["result"] else "run failed"
    print("| seed | order | " + " | ".join(
        f"{m} parent → change" for m, _ in METRICS) +
        " | failed ops parent / change |")
    print("|---" * (len(METRICS) + 3) + "|")
    for s in seeds:
        p, c = pairs[s]["parent"], pairs[s]["change"]
        order = "parent first" if p["first"] else "change first"
        cells = [f"{fmt(val(p, m))} → {fmt(val(c, m))}"
                 if p["result"] and c["result"] else "—" for m, _ in METRICS]
        print(f"| {s} | {order} | " + " | ".join(cells) +
              f" | {failed(p)} / {failed(c)} |")
    ok = [s for s in seeds
          if pairs[s]["parent"]["result"] and pairs[s]["change"]["result"]]
    print()
    print("| metric | parent median [q1, q3] | change median [q1, q3] | "
          "change / parent | change better |")
    print("|---|---|---|---|---|")
    for m, higher in METRICS:
        pv = [val(pairs[s]["parent"], m) for s in ok]
        cv = [val(pairs[s]["change"], m) for s in ok]
        better = sum((c > p) if higher else (c < p) for p, c in zip(pv, cv))
        (p1, pm, p3), (c1, cm, c3) = quartiles(pv), quartiles(cv)
        print(f"| `{m}` | {fmt(pm)} [{fmt(p1)}, {fmt(p3)}] | "
              f"{fmt(cm)} [{fmt(c1)}, {fmt(c3)}] | {cm / pm:.3f} | "
              f"{better} of {len(ok)} |")


if __name__ == "__main__":
    if sys.argv[1] == "run":
        a = sys.argv[2:]
        run(a[0], a[1], a[2], int(a[3]), int(a[4]), a[5])
    elif sys.argv[1] == "report":
        report(sys.argv[2])
    else:
        sys.exit(__doc__)
