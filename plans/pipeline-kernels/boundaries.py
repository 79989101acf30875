#!/usr/bin/env python3
"""Per-boundary table of two traced perfbench result lines.

Usage:
    python3 boundaries.py BEFORE.json AFTER.json

Each argument holds the stdout of one `perfbench/run.py --trace 1` run;
its last line is the result. Prints one markdown row per boundary that
either run called: jobs, wall, executor CPU, driver and planning ms,
and shuffle MiB written, before → after, each a mean over the traced
window's ops. Then the two runs' gc_ms and tracing_overhead_pct.
"""
import json
import sys

COLS = [("jobs", "{:.0f}"), ("wall_ms", "{:.0f}"), ("exec_cpu_ms", "{:.0f}"),
        ("driver_ms", "{:.0f}"), ("plan_ms", "{:.0f}"),
        ("shuffle_write_mb", "{:.2f}"), ("fs_ops", "{:.0f}")]


def metrics(path):
    return json.loads(open(path).read().strip().splitlines()[-1])["metrics"]


def main(before, after):
    b, a = metrics(before), metrics(after)
    names = []
    for k in b:
        if k.count(".") == 2 and k.rsplit(".", 1)[0] not in names:
            names.append(k.rsplit(".", 1)[0])
    print("| boundary | " + " | ".join(c for c, _ in COLS) + " |")
    print("|---" * (len(COLS) + 1) + "|")
    for n in names:
        v = lambda m, c: m.get(f"{n}.{c}", {"value": 0.0})["value"]
        if v(b, "wall_ms") == 0 and v(a, "wall_ms") == 0:
            continue
        print(f"| `{n}` | " + " | ".join(
            f"{f.format(v(b, c))} → {f.format(v(a, c))}" for c, f in COLS) +
            " |")
    print()
    for k in ("gc_ms", "tracing_overhead_pct"):
        print(f"- `{k}`: {b[k]['value']:.1f} → {a[k]['value']:.1f}")


if __name__ == "__main__":
    main(*sys.argv[1:3])
