#!/usr/bin/env python3
"""Count Scala code lines: one reproducible number for simplicity changes.

A line counts unless it is blank or its first non-space characters are
`*`, `/**` or `//` (doc-comment bodies, doc-comment openers and line
comments). Prints the count per .scala file under each PATH (a file or
a directory, searched recursively), then the total.

    python3 dev/loc.py src/main
    python3 dev/loc.py src/main/scala/graft/io/TableFormat.scala \
        src/main/scala/graft/io/GraftDmlRule.scala
"""
import os
import sys

COMMENT_PREFIXES = ("*", "/**", "//")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and
                   not line.lstrip().startswith(COMMENT_PREFIXES))


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, n)
                  for d, _, names in os.walk(path)
                  for n in names if n.endswith(".scala"))


def main(paths):
    if not paths:
        sys.exit(__doc__)
    files = [f for p in paths for f in scala_files(p)]
    total = 0
    for f in files:
        n = code_lines(f)
        total += n
        print(f"{n:8d}  {f}")
    print(f"{total:8d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
