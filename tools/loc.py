#!/usr/bin/env python3
"""Count the code lines of the Scala sources under a path.

A code line is a non-blank line that neither starts with `//` nor lies
inside a `/* ... */` block (scaladoc included); leading whitespace is
ignored. The path may be a directory (every `*.scala` below it) or one
file.

    python3 tools/loc.py src/main
    python3 tools/loc.py src/main/scala/graft/storage/GraftTable.scala
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
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def scala_files(root):
    if os.path.isfile(root):
        return [root]
    out = []
    for d, _, names in os.walk(root):
        out.extend(os.path.join(d, x) for x in names if x.endswith(".scala"))
    return sorted(out)


def main(argv):
    if len(argv) != 2:
        sys.exit("usage: loc.py <dir-or-file>")
    print(sum(count(p) for p in scala_files(argv[1])))


if __name__ == "__main__":
    main(sys.argv)
