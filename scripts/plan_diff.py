#!/usr/bin/env python3
"""Compare two `graft.tools.Plans` dumps query by query.

    python3 scripts/plan_diff.py A.txt B.txt [--tree] [q ...]

Both dumps are split on their `========== q ==========` headers; with no
query names every query of either dump is compared. Tokens that change
from run to run are masked first: expression ids (`#12L`), exchange plan
ids, query-stage ids, RDD ids, lambda class names, source line numbers and
file paths. With --tree only the operator tree at the top of each plan is
compared, without node numbers or statistics.

Prints a unified diff for each differing query, followed by its Exchange,
join and aggregate node counts on both sides, and exits 1 if any query
differs or is missing from one dump; otherwise exits 0.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
NODE = re.compile(r"^\((\d+)\) (.*)$")
MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$\$Lambda\$?[\w/$]*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\b(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"file:[^\s,\]]*"), "file:<path>"),
    (re.compile(r"(?<![\w:])/(?:tmp|root)/[^\s,\]]*"), "<path>"),
]


def split_dump(path):
    """{query: [line, ...]} of one Plans dump."""
    plans, name = {}, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                plans[name] = []
            elif line.startswith("PLANCHECK "):
                name = None
            elif name is not None:
                plans[name].append(line)
    return plans


def masked(lines):
    out, in_stage = [], False
    for line in lines:
        for pat, rep in MASKS:
            line = pat.sub(rep, line)
        node = NODE.match(line)
        if node:
            in_stage = node.group(2).endswith("QueryStage")
        elif in_stage and line.startswith("Arguments: "):
            line = "Arguments: <stage id>"
        out.append(line)
    return out


def tree(lines):
    """The operator tree: the lines after `== Physical Plan ==` up to the
    first blank one, each cut to its indentation and operator name."""
    out, started = [], False
    for line in lines:
        if line == "== Physical Plan ==":
            started = True
        elif started and not line.strip():
            break
        elif started:
            out.append(re.sub(r"\s*\(\d+\).*$", "", line))
    return out


def counts(lines):
    ops = [re.sub(r"^[\s:|+\-*]*", "", l) for l in tree(lines)]
    return {
        "Exchange": sum("Exchange" in o for o in ops),
        "join": sum("Join" in o for o in ops),
        "aggregate": sum("Aggregate" in o for o in ops),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tree", action="store_true",
                    help="compare only the operator trees")
    args = ap.parse_args()
    pa, pb = split_dump(args.a), split_dump(args.b)
    names = args.queries or sorted(set(pa) | set(pb))
    differ = 0
    for q in names:
        if q not in pa or q not in pb:
            print(f"{q}: missing from {args.a if q not in pa else args.b}")
            differ += 1
            continue
        la, lb = masked(pa[q]), masked(pb[q])
        if args.tree:
            la, lb = tree(la), tree(lb)
        if la == lb:
            continue
        differ += 1
        sys.stdout.writelines(difflib.unified_diff(
            [l + "\n" for l in la], [l + "\n" for l in lb],
            f"{args.a} {q}", f"{args.b} {q}"))
        print(f"{q}: node counts {counts(pa[q])} -> {counts(pb[q])}")
    print(f"{len(names) - differ}/{len(names)} plans identical")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
