#!/usr/bin/env python3
"""Report repeated source blocks (clones) in a Scala tree.

Method: every line is trimmed; blank lines, comment lines and lines made only
of brackets are skipped. Files are read in path order and cut into 5-line
windows over the remaining lines. A line counts as repeated when it lies in a
window whose text already appeared earlier (in an earlier file, or earlier in
the same file). A run of consecutive repeated lines in one file is a region.

Usage:
    python3 tools/clone_scan.py [root ...]      # default: src/main

Prints the total of repeated lines, the number of regions and, per region,
`file:line` of its first line with the `file:line` of the first window it
repeats.
"""
import os
import re
import sys

WINDOW = 5
BRACKETS_ONLY = re.compile(r"^[\s{}()\[\];,]*$")


def code_lines(path):
    """(line number, trimmed text) of each line that the scan compares."""
    out = []
    in_block = False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line
                continue
            if not line or line.startswith("//") or BRACKETS_ONLY.match(line):
                continue
            out.append((no, line))
    return out


def scala_files(roots):
    files = []
    for root in roots:
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def scan(roots):
    seen = {}  # window text -> (file, line) of its first occurrence
    regions = []  # (file, first line, repeated line count, origin)
    for path in scala_files(roots):
        lines = code_lines(path)
        repeated = [None] * len(lines)  # origin of the window covering a line
        for i in range(len(lines) - WINDOW + 1):
            key = "\n".join(text for _, text in lines[i:i + WINDOW])
            if key in seen:
                for j in range(i, i + WINDOW):
                    if repeated[j] is None:
                        repeated[j] = seen[key]
            else:
                seen[key] = (path, lines[i][0])
        i = 0
        while i < len(lines):
            if repeated[i] is None:
                i += 1
                continue
            start, origin = i, repeated[i]
            while i < len(lines) and repeated[i] is not None:
                i += 1
            regions.append((path, lines[start][0], i - start, origin))
    return regions


def main(argv):
    roots = argv[1:] or ["src/main"]
    regions = scan(roots)
    print(f"{sum(r[2] for r in regions)} repeated lines in {len(regions)} regions")
    for path, line, count, (opath, oline) in regions:
        print(f"  {path}:{line} ({count} lines) repeats {opath}:{oline}")


if __name__ == "__main__":
    main(sys.argv)
