#!/usr/bin/env python3
"""Count the non-comment, non-blank lines of the engine's Scala sources.

Usage: python3 tools/loc.py [repo_root]

Walks `src/main/scala` under `repo_root` (default: the parent of this
script's directory) and prints one number. A line counts unless it is
blank, starts with `//`, or lies in a block comment: a block opens on a
line that starts with `/*` (scaladoc included) and ends on the first line
holding `*/`. A `/* ... */` after code on the same line leaves the line
counted as code.
"""
import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                in_block = "*/" not in line
            elif line.startswith("/*"):
                in_block = "*/" not in line
            elif line and not line.startswith("//"):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    total = 0
    for d, _, files in os.walk(os.path.join(root, "src", "main", "scala")):
        total += sum(count(os.path.join(d, f)) for f in files if f.endswith(".scala"))
    print(total)


if __name__ == "__main__":
    main()
