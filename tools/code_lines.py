#!/usr/bin/env python3
"""Count Scala code lines under the given paths.

A code line is any line of a `.scala` file that is not blank, does not start
with `//`, and is not inside or opening a `/* ... */` block (scaladoc
included); the line that closes a block counts as part of the block.

Usage: python3 tools/code_lines.py PATH [PATH ...]   (prints the total)
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
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


def scala_files(root):
    if os.path.isfile(root):
        yield root
        return
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                yield os.path.join(d, name)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__.strip())
    print(sum(code_lines(p) for root in sys.argv[1:] for p in scala_files(root)))
