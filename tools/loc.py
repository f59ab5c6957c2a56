#!/usr/bin/env python3
"""Scala line counts of the main and test trees.

Usage: python3 tools/loc.py [REPO_ROOT]

REPO_ROOT defaults to the current directory. For src/main and src/test
prints the raw line count (what `wc -l` over every .scala file gives)
and the code line count: lines that are neither blank nor comment. A
comment line starts with `//`, opens a `/*` block, or lies inside one;
a line holding code before or after a comment counts as code.
"""
import os
import sys


def count(path: str) -> tuple:
    raw = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            raw += 1
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                    if s.split("*/", 1)[1].strip():
                        code += 1
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            code += 1
    return raw, code


def tree(root: str) -> tuple:
    raw = code = 0
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                r, c = count(os.path.join(d, name))
                raw += r
                code += c
    return raw, code


def main() -> int:
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    for part in ("main", "test"):
        raw, code = tree(os.path.join(repo, "src", part))
        print(f"{part}: {raw} lines, {code} code lines")
    return 0


if __name__ == "__main__":
    sys.exit(main())
