#!/usr/bin/env python3
"""Non-blank, non-comment line counts of Scala/Java source files.

Usage: python3 tools/ncloc.py FILE...

Prints one `count  path` line per file and a total when given more than
one. A line counts unless it is blank or holds only comment text: a
`//` line comment, or any part of a `/* ... */` block (scaladoc
included). A line with code before a comment counts. Comment markers
inside string literals are not special-cased.
"""
import sys


def ncloc(path):
    n, in_block = 0, False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            code = False
            while s:
                if in_block:
                    end = s.find("*/")
                    if end < 0:
                        break
                    s, in_block = s[end + 2:].strip(), False
                elif s.startswith("//"):
                    break
                elif s.startswith("/*"):
                    s, in_block = s[2:], True
                else:
                    code = True
                    break
            n += code
    return n


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__.strip())
    counts = [(ncloc(p), p) for p in sys.argv[1:]]
    for n, p in counts:
        print(f"{n:7d}  {p}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts):7d}  total")
