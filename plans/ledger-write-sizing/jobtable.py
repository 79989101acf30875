#!/usr/bin/env python3
"""Per-call job table of one traced store-churn op, before and after.

Usage:
    python3 jobtable.py BEFORE_EXPORT AFTER_EXPORT

Each argument is the Jaeger-UI JSON that `perfbench/run.py --trace 1`
leaves at perfbench/.work/store-churn/trace_export.json (op -> call ->
job -> stage spans). Prints one markdown row per timed call: its wall,
its job count and, for each ledger write job, the write stage's task
count and the job's duration. The ledger write jobs are the jobs of the
BEFORE export whose stage ran one task per bucket (32); the AFTER export
must have the same jobs per call, and its write jobs are read at the
same positions.
"""
import json
import sys

BUCKETS = 32


def calls(path):
    spans = json.load(open(path))[0]["spans"]
    kids = {}
    for s in spans:
        for r in s["references"]:
            kids.setdefault(r["spanID"], []).append(s)
    root = next(s for s in spans if not s["references"])

    def tags(s):
        return {t["key"]: t["value"] for t in s["tags"]}

    out = []
    for c in kids[root["spanID"]]:
        jobs = [(j["duration"] / 1000.0,
                 max(tags(st)["tasks"] for st in kids.get(j["spanID"], [])))
                for j in kids.get(c["spanID"], [])]
        assert len(jobs) == tags(c)["jobs"], c["operationName"]
        out.append((c["operationName"], c["duration"] / 1000.0, jobs))
    return out


def main():
    before, after = calls(sys.argv[1]), calls(sys.argv[2])
    assert [c[0] for c in before] == [c[0] for c in after]
    print("| call | wall ms before | wall ms after | jobs before / after "
          "| ledger write jobs before (tasks, ms) "
          "| ledger write jobs after (tasks, ms) |")
    print("|---|---:|---:|---|---|---|")
    tot = [0.0, 0.0]
    for (name, wb, jb), (_, wa, ja) in zip(before, after):
        assert len(jb) == len(ja), f"{name}: jobs per call changed"
        idx = [i for i, (_, t) in enumerate(jb) if t == BUCKETS]
        fmt = lambda js: ", ".join(f"{js[i][1]} tasks {js[i][0]:.0f}"
                                   for i in idx) or "—"
        if idx:
            tot[0] += wb
            tot[1] += wa
        print(f"| `{name}` | {wb:.0f} | {wa:.0f} | {len(jb)} / {len(ja)} "
              f"| {fmt(jb)} | {fmt(ja)} |")
    print(f"\nSummed wall of the calls with ledger writes: "
          f"{tot[0] / 1000:.1f} s before, {tot[1] / 1000:.1f} s after.")


if __name__ == "__main__":
    main()
