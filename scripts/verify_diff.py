#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs query by query.

    python3 scripts/verify_diff.py A B

Each dir holds one parquet dir per query and `oracle_sql.json`. For
every query the two result trees are compared as row multisets with
DuckDB `EXCEPT ALL` both ways (as `parquet_diff.py` does), so row order
and file layout are ignored while duplicate counts are not. The two
`oracle_sql.json` files are compared entry by entry with every path
under a `target/tmp` scratch dir masked, because the checkout root and
the fixture names differ between checkouts. Prints each difference and
a one-line summary; exits 1 on any difference, 0 when both runs agree.
"""
import json
import os
import re
import sys

import duckdb

SHOW = 3      # differing rows printed per side
WIDTH = 200   # characters printed per row
TMP = re.compile(r"[^'\s]*target/tmp/[^'\s]*")


def queries(out):
    return {q for q in os.listdir(out) if os.path.isdir(os.path.join(out, q))}


def source(out, q):
    path = os.path.join(out, q, "**", "*.parquet").replace("'", "''")
    return f"read_parquet('{path}')"


def rows_differ(con, a, b, q):
    x, y = source(a, q), source(b, q)
    sx = con.execute(f"DESCRIBE SELECT * FROM {x}").fetchall()
    sy = con.execute(f"DESCRIBE SELECT * FROM {y}").fetchall()
    if [r[:2] for r in sx] != [r[:2] for r in sy]:
        print(f"{q}: schema differs")
        print("-", [r[:2] for r in sx])
        print("+", [r[:2] for r in sy])
        return True
    differ = False
    for sign, p, r in (("-", x, y), ("+", y, x)):
        diff = f"SELECT * FROM {p} EXCEPT ALL SELECT * FROM {r}"
        n = con.execute(f"SELECT count(*) FROM ({diff})").fetchone()[0]
        if n:
            differ = True
            print(f"{q}: {n} rows only in {a if sign == '-' else b}")
            for row in con.execute(f"{diff} LIMIT {SHOW}").fetchall():
                print(sign, str(row)[:WIDTH])
    return differ


def oracles(out):
    with open(os.path.join(out, "oracle_sql.json")) as f:
        return {k: TMP.sub("<target/tmp>", v) for k, v in json.load(f).items()}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1:]
    differ = 0
    qa, qb = queries(a), queries(b)
    for q in sorted(qa ^ qb):
        print(f"{q}: result only in {a if q in qa else b}")
        differ += 1
    con = duckdb.connect()
    for q in sorted(qa & qb):
        differ += rows_differ(con, a, b, q)
    oa, ob = oracles(a), oracles(b)
    for k in sorted(oa.keys() | ob.keys()):
        if oa.get(k) != ob.get(k):
            print(f"{k}: oracle SQL differs" if k in oa and k in ob
                  else f"{k}: oracle only in {a if k in oa else b}")
            differ += 1
    print(f"{'differ' if differ else 'identical'}: {len(qa & qb)} query "
          f"results and {len(oa.keys() & ob.keys())} oracles compared, "
          f"{differ} differences")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
