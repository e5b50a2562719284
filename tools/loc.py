#!/usr/bin/env python3
"""Line counts for a source tree (default: src/main).

Prints total lines and code lines over every .scala/.java file under
the given directory. A code line is one that is not blank, not a `//`
comment line and not inside a `/* ... */` block (scaladoc included).
A line that closes a block comment and then carries code counts as
code, as does one that opens a block comment after code.

Usage: python3 tools/loc.py [dir]
"""
import os, sys


def count(path):
    total = code = 0
    in_block = False
    for line in open(path, encoding="utf-8"):
        total += 1
        s = line.strip()
        if in_block:
            end = s.find("*/")
            if end < 0:
                continue
            in_block = False
            s = s[end + 2:].strip()
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            if not s[end + 2:].strip():
                continue
        code += 1
    return total, code


def main(root):
    total = code = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith((".scala", ".java")):
                t, c = count(os.path.join(d, f))
                total += t
                code += c
    print(f"{root}: {total} lines, {code} code")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "src/main")
