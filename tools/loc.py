#!/usr/bin/env python3
"""Code-line count of the Scala sources: non-blank lines that are not
comments. A line whose text starts with `//` is a comment, and so is
every line of a block that opens with `/*` at the start of a line,
through the line that closes it with `*/`.

Prints the total for src/main and each file over 1,000 code lines.

    python3 tools/loc.py [repo-root]
"""
import os
import sys


def code_lines(path):
    n, in_block = 0, False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
            elif s.startswith("/*"):
                in_block = "*/" not in s[2:]
            elif s and not s.startswith("//"):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    src = os.path.join(root, "src", "main")
    counts = {}
    for d, _, files in os.walk(src):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                counts[os.path.relpath(p, root)] = code_lines(p)
    print(f"src/main {sum(counts.values())}")
    for p, n in sorted(counts.items(), key=lambda e: -e[1]):
        if n > 1000:
            print(f"  {p} {n}")


if __name__ == "__main__":
    main()
