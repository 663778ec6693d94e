#!/usr/bin/env python3
"""Count code lines in Scala (or Java) sources.

A code line is any line that is neither blank nor a comment: `//` line
comments and `/* ... */` block comments (scaladoc included) are
excluded, and a line that holds code before or after a comment counts.
String literals are not parsed, so a `//` or `/*` inside a string that
starts a line is read as a comment (no source here does that).

Usage: python3 tools/loc.py FILE...
Prints one line per file and a total.
"""
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = False
        while line:
            if in_block:
                end = line.find("*/")
                if end < 0:
                    line = ""
                else:
                    in_block = False
                    line = line[end + 2:].strip()
            elif line.startswith("//"):
                line = ""
            elif line.startswith("/*"):
                in_block = True
                line = line[2:]
            else:
                code = True
                break
        if code:
            n += 1
    return n


def main(paths):
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    width = max(len(p) for p in paths)
    for p in paths:
        with open(p, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{p:<{width}}  {n:>6}")
    print(f"{'total':<{width}}  {total:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
