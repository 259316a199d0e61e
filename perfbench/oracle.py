"""DuckDB check of the harness's result dump.

Each workload query's result (one parquet dir per query) is compared
with its oracle SQL run in DuckDB over the same generated tables, after
the row-set canonicalization of `scripts/check_oracle.py`: columns
sorted by name, rows rendered at full precision and sorted.
"""
import math

import duckdb
import pyarrow.dataset as ds

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def rowset(table):
    names = table.column_names
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [table.column(i).to_pylist() for i in order]
    rows = list(zip(*cols)) if cols else []
    return sorted("|".join(canon(v) for v in r) for r in rows), [names[i] for i in order]


def check(data_dir, result_dir, oracles, queries):
    """Returns {query: (ok, spark row count or -1, message)}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for q in queries:
        try:
            got = ds.dataset(f"{result_dir}/{q}").to_table()
        except (OSError, ValueError) as e:
            out[q] = (False, -1, f"no result: {e}")
            continue
        if q not in oracles:
            out[q] = (True, got.num_rows, "no oracle; row count only")
            continue
        try:
            want = con.execute(oracles[q]).fetch_arrow_table()
        except duckdb.Error as e:
            out[q] = (False, got.num_rows, f"oracle failed: {e}")
            continue
        g_rows, g_names = rowset(got)
        w_rows, w_names = rowset(want)
        if g_names != w_names:
            out[q] = (False, got.num_rows, f"columns {g_names} != {w_names}")
        elif g_rows != w_rows:
            diff = next(((a, b) for a, b in zip(g_rows, w_rows) if a != b), None)
            out[q] = (False, got.num_rows,
                      f"{len(g_rows)} vs {len(w_rows)} rows; first diff {diff}")
        else:
            out[q] = (True, got.num_rows, "ok")
    con.close()
    return out
