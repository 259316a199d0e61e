#!/usr/bin/env python3
"""Count the non-comment, non-blank lines of Scala (or Java) sources.

    python3 scripts/ncnb.py FILE...

Prints one `<count>  <file>` line per file, and a total when given more
than one file. A line counts when any character on it lies outside a
comment: `//` line comments and `/* ... */` blocks (scaladoc included;
Scala block comments nest) are skipped, blank lines are skipped, and
string literals (including triple-quoted ones) count as code, so a
`//` or `/*` inside a string does not start a comment.
"""
import sys


def ncnb(text):
    count = 0
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                code = True
                if line.startswith('"""', i):
                    # a closing run may be longer than three quotes
                    while line.startswith('""""', i):
                        i += 1
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code = True
                in_triple = True
                i += 3
            elif line[i] == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < n and (
                    line[i + 2] == "'" or line[i + 1] == "\\"):
                # character literal: 'x' or an escape like '\n'
                code = True
                end = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1)
                i = n if end < 0 else end + 1
            else:
                if not line[i].isspace():
                    code = True
                i += 1
        if code:
            count += 1
    return count


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            c = ncnb(f.read())
        total += c
        print(f"{c:6d}  {p}")
    if len(paths) > 1:
        print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
