#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source, per file and in total.

A line is skipped when it is empty after stripping whitespace, or when its
first non-blank characters are `//`, `/*` or `*` (line comments, block and
scaladoc comment lines). Every other line counts, including lines that only
close a brace.

Usage: python3 tools/loc.py [root]     (default: src/main/scala of this repo)

Prints one `<count>  <path>` line per file (paths relative to the root,
sorted), then `<count>  total`.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def count(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "src", "main", "scala")
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs if f.endswith(".scala"))
    total = 0
    for p in files:
        n = count(p)
        total += n
        print(f"{n:7d}  {os.path.relpath(p, root)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
