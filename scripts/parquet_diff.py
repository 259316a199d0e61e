#!/usr/bin/env python3
"""Compare the rows of two parquet trees as multisets.

    python3 scripts/parquet_diff.py A B

Each argument is a parquet file or a directory, read recursively
(`**/*.parquet`). DuckDB runs `EXCEPT ALL` both ways over the two row
sets, so row order and file layout are ignored while duplicate counts are
not. Doubles compare by value. Prints the schema if it differs, otherwise
the number of rows found only in A (`-`) and only in B (`+`) with the
first few of each, cut to 200 characters. Exits 1 on any difference, 0
when both trees hold the same rows.
"""
import os
import sys

import duckdb

SHOW = 5      # differing rows printed per side
WIDTH = 200   # characters printed per row


def source(path):
    if os.path.isdir(path):
        path = os.path.join(path, "**", "*.parquet")
    return "read_parquet('{}')".format(path.replace("'", "''"))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (source(p) for p in sys.argv[1:])
    con = duckdb.connect()
    sa = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
    sb = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
    if [r[:2] for r in sa] != [r[:2] for r in sb]:
        print("schema differs:")
        print("-", [r[:2] for r in sa])
        print("+", [r[:2] for r in sb])
        return 1
    differ = 0
    for sign, x, y in (("-", a, b), ("+", b, a)):
        q = f"SELECT * FROM {x} EXCEPT ALL SELECT * FROM {y}"
        n = con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
        if n:
            differ += n
            print(f"{n} rows only in {sys.argv[1] if sign == '-' else sys.argv[2]}")
            for row in con.execute(f"{q} LIMIT {SHOW}").fetchall():
                print(sign, str(row)[:WIDTH])
    total = con.execute(f"SELECT count(*) FROM {a}").fetchone()[0]
    print(f"{'differ' if differ else 'identical'}: {total} rows in A")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
