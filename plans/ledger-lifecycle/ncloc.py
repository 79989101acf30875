#!/usr/bin/env python3
"""Non-blank, non-comment line count of Scala sources.

Usage:
    python3 ncloc.py FILE...          # count files in the working tree
    python3 ncloc.py --rev REV FILE...  # count files as of a git revision

A line counts unless it is blank, a `//` line comment, or lies wholly
inside a `/* ... */` (or scaladoc) block. A line that holds code and a
trailing comment counts. Prints one `<count> <file>` line per file and
a total.
"""
import subprocess
import sys


def count(text):
    n, in_block = 0, False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            if "*/" not in line:
                continue
            in_block = False
            line = line.split("*/", 1)[1].strip()
        if line.startswith("/*"):
            if "*/" not in line:
                in_block = True
                continue
            line = line.split("*/", 1)[1].strip()
        if not line or line.startswith("//"):
            continue
        n += 1
    return n


def main():
    args = sys.argv[1:]
    rev = None
    if args[:1] == ["--rev"]:
        rev, args = args[1], args[2:]
    total = 0
    for f in args:
        if rev:
            text = subprocess.run(["git", "show", f"{rev}:{f}"], check=True,
                                  capture_output=True, text=True).stdout
        else:
            text = open(f).read()
        c = count(text)
        total += c
        print(f"{c} {f}")
    print(f"{total} total")


if __name__ == "__main__":
    main()
