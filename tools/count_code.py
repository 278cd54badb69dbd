#!/usr/bin/env python3
"""Count lines of Scala code under a tree.

A code line is a non-blank line of a `.scala` file whose first non-space
characters are not `//`, `/*` or `*`. A line that opens with code and ends
in a comment counts; a comment line counts nowhere. Prints one
`<count>\t<path>` line per file (sorted by path, relative to the tree),
then `<total>\ttotal`.

Usage: python3 tools/count_code.py <tree>
"""
import os
import sys


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.lstrip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


def count_tree(tree):
    counts = {}
    for d, _, files in os.walk(tree):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                counts[os.path.relpath(p, tree)] = code_lines(p)
    return counts


def main(argv):
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__.strip(), file=sys.stderr)
        return 1
    counts = count_tree(argv[0])
    for p in sorted(counts):
        print(f"{counts[p]}\t{p}")
    print(f"{sum(counts.values())}\ttotal")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
