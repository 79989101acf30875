#!/usr/bin/env python3
"""Shorten a LayoutParity manifest for committing and diffing.

Usage:
    python3 digest.py MANIFEST > DIGEST

Decision and report lines pass through unchanged. Each parquet line
becomes `<masked path> <schema> rows=<n> order=<sha> set=<sha>`: the
sha256 prefix of its rows in file order and of its rows sorted, so two
files with the same rows in another order differ in `order` only.
Small-file lines (pointers, seals, sidecars, markers) pass through.
"""
import hashlib
import sys


def sha(text):
    return hashlib.sha256(text.encode()).hexdigest()[:16]


for line in open(sys.argv[1], encoding="utf-8"):
    parts = line.rstrip("\n").split("\t")
    if len(parts) == 3 and parts[0].endswith(".parquet"):
        rows = parts[2].split(";") if parts[2] else []
        print(f"{parts[0]}\t{parts[1]}\trows={len(rows)}"
              f"\torder={sha(';'.join(rows))}"
              f"\tset={sha(';'.join(sorted(rows)))}")
    else:
        print("\t".join(p if len(p) <= 200 else p[:200] + "…"
                        for p in parts))
