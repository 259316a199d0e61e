#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check_oracle.py [sf_dir] [out_dir]

Assumes `sbt "runMain graft.Verify <sf_dir> <out_dir>"` already ran.
For each query parquet in out_dir, runs the matching oracle SQL from
oracle_sql.json in DuckDB (views over the same testdata parquet), sorts
columns by name and rows by all columns, and compares values exactly.
"""
import json, math, sys
from pathlib import Path
import duckdb
import pyarrow.parquet as pq
import pyarrow.dataset as ds

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else str(
    Path(__file__).resolve().parents[1] / "target/verify_out")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

with open(f"{OUT}/oracle_sql.json") as f:
    oracles = json.load(f)

def canon(v):
    if hasattr(v, "isoformat"):  # datetime.datetime / date / pd.Timestamp
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)

def rowset(cols, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = list(zip(*[cols[i] for i in order])) if cols else []
    return sorted("|".join(canon(v) for v in r) for r in rows), [names[i] for i in order]

fails = 0
for name, sql in sorted(oracles.items()):
    try:
        got_tbl = ds.dataset(f"{OUT}/{name}").to_table()
        oracle = con.execute(sql).fetch_arrow_table()
        g_rows, g_names = rowset([got_tbl.column(i).to_pylist() for i in range(got_tbl.num_columns)], got_tbl.column_names)
        o_rows, o_names = rowset([oracle.column(i).to_pylist() for i in range(oracle.num_columns)], oracle.column_names)
        if g_names != o_names:
            print(f"FAIL {name}: columns {g_names} != {o_names}")
            fails += 1
        elif g_rows != o_rows:
            diff = [(a, b) for a, b in zip(g_rows, o_rows) if a != b]
            print(f"FAIL {name}: {len(g_rows)} vs {len(o_rows)} rows; first diffs:")
            for a, b in diff[:3]:
                print(f"  spark : {a[:300]}")
                print(f"  duckdb: {b[:300]}")
            if not diff and len(g_rows) != len(o_rows):
                print(f"  row-count only: {len(g_rows)} vs {len(o_rows)}")
            fails += 1
        else:
            print(f"OK   {name} ({len(g_rows)} rows)")
    except Exception as e:
        print(f"ERROR {name}: {type(e).__name__}: {e}")
        fails += 1

print(f"\n{len(oracles) - fails}/{len(oracles)} oracle-checked queries match")
sys.exit(1 if fails else 0)
