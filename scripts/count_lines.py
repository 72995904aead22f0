#!/usr/bin/env python3
"""Counted lines: the code-size measure ROADMAP.md and CHANGES.md quote.

A counted line is a non-blank line of a `.scala` file that is not a `//`
comment and not inside a `/* ... */` comment (scaladoc included). A line
holding code and a trailing comment counts.

Usage:
    python3 scripts/count_lines.py            # src/main and tables+sources
    python3 scripts/count_lines.py PATH...    # the sum over the given dirs/files
"""
import os
import sys

MAIN = "src/main/scala/graft"


def counted(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                end = line.find("*/")
                if end < 0:
                    continue
                in_block = False
                line = line[end + 2:].strip()
            while line.startswith("/*"):
                end = line.find("*/", 2)
                if end < 0:
                    in_block = True
                    line = ""
                    break
                line = line[end + 2:].strip()
            if line and not line.startswith("//"):
                n += 1
    return n


def count_dir(d):
    if os.path.isfile(d):
        return counted(d)
    total = 0
    for root, _, files in os.walk(d):
        total += sum(counted(os.path.join(root, f))
                     for f in files if f.endswith(".scala"))
    return total


def main(argv):
    if argv:
        print(sum(count_dir(d) for d in argv))
        return
    main_n = count_dir("src/main")
    ts = count_dir(f"{MAIN}/tables") + count_dir(f"{MAIN}/sources")
    print(f"src/main          {main_n:,}")
    print(f"tables+sources    {ts:,}")


if __name__ == "__main__":
    main(sys.argv[1:])
