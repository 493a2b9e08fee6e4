#!/usr/bin/env python3
"""Count code lines under src/main/scala.

A code line is any line that is not blank, not a `//` comment line and not
inside a `/* ... */` block (scaladoc included). A line that opens a block
comment after code, or closes one before code, counts as code.

Usage: python3 tools/loc.py [dir-or-file]   (default: src/main/scala)
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                    if line.split("*/", 1)[1].strip():
                        n += 1
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
    total = code_lines(root) if os.path.isfile(root) else 0
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                total += code_lines(os.path.join(d, name))
    print(f"{os.path.relpath(root)}: {total:,} code lines")


if __name__ == "__main__":
    main()
