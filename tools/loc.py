#!/usr/bin/env python3
"""Non-comment line count of the Scala sources under src/main.

A line counts unless it is blank, a `//` comment line, or part of a
`/* .. */` block comment (scaladoc included) that starts the line. A
line that mixes code with a trailing comment counts. Prints one
`<lines>  <file>` row per file, largest first, then the total.

Usage:
  python3 tools/loc.py [src_dir]        # default: src/main
"""
import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
            elif not s or s.startswith("//"):
                pass
            elif s.startswith("/*"):
                in_block = "*/" not in s[2:]
            else:
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main")
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rows.append((count(p), os.path.relpath(p, root)))
    rows.sort(key=lambda r: (-r[0], r[1]))
    for n, p in rows:
        print(f"{n:6d}  {p}")
    print(f"{sum(n for n, _ in rows):,}  total")


if __name__ == "__main__":
    main()
