#!/usr/bin/env python3
"""Count non-comment, non-blank (NCNB) lines of Scala sources.

Usage: python3 scripts/ncnb.py [PATH ...]   (default: src/main/scala)

Each PATH is a .scala file or a directory searched recursively. Prints
one "<count>  <file>" line per file, then the total. A line is a comment
line when, after stripping, it is empty, starts with `//`, or lies wholly
inside a `/* ... */` block (scaladoc included); a line holding any code
outside those counts once.
"""
import os
import sys


def ncnb(path):
    n, in_block = 0, False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s, code = line.strip(), False
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


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


if __name__ == "__main__":
    files = [f for p in (sys.argv[1:] or ["src/main/scala"])
             for f in scala_files(p)]
    total = 0
    for f in files:
        c = ncnb(f)
        total += c
        print(f"{c:6d}  {f}")
    print(f"{total:6d}  total")
