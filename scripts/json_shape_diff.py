#!/usr/bin/env python3
"""Compare the key shape of two JSON artifacts.

    python3 scripts/json_shape_diff.py A B

Each argument is a JSON file, or a log (e.g. a main's captured stdout)
whose last line that parses as a JSON object is taken. Every key path
(`a.b.c`; array elements as `[]`, so `raw_passes[].q_x`) present in one
document and missing from the other is printed, prefixed `-` (only in
A) or `+` (only in B). Values are ignored. Exits 1 on any difference,
0 when both carry the same key paths.
"""
import json
import sys


def load(path):
    with open(path) as f:
        text = f.read()
    try:
        return json.loads(text)
    except ValueError:
        pass
    for line in reversed(text.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    sys.exit(f"{path}: no JSON object found")


def paths(node, prefix=""):
    out = set()
    if isinstance(node, dict):
        for k, v in node.items():
            p = f"{prefix}.{k}" if prefix else k
            out.add(p)
            out |= paths(v, p)
    elif isinstance(node, list):
        for v in node:
            out |= paths(v, prefix + "[]")
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (paths(load(p)) for p in sys.argv[1:])
    only_a, only_b = sorted(a - b), sorted(b - a)
    for p in only_a:
        print(f"- {p}")
    for p in only_b:
        print(f"+ {p}")
    print(f"{len(a & b)} shared key paths, {len(only_a)} only in A, "
          f"{len(only_b)} only in B")
    sys.exit(1 if only_a or only_b else 0)


if __name__ == "__main__":
    main()
