"""Seeded generator for the benchmark's input tables.

Writes the star schema the engine's catalog reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings; one parquet file each) with the column types, value ranges
and shapes of the project's test tables: independent uniform keys,
TPC-H-style enums, an ordered event stream, a 30-word document corpus
with 5% exact-plus-suffix near-duplicates, and unit-norm 64-d
embeddings. The same (seed, sf) always yields the same bytes.

Usage: python3 perfbench/gen.py OUT_DIR SF SEED
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(df, out_dir, name):
    t = pa.Table.from_pandas(df, preserve_index=False)
    # pandas stamps are nanoseconds; the engine's tables carry micros
    t = t.cast(pa.schema([pa.field(f.name, pa.timestamp("us"))
                          if pa.types.is_timestamp(f.type) else f for f in t.schema]))
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start, end):
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = max(1, int(15000 * sf))
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": REGIONS}), out_dir, "region")
    _write(pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
           out_dir, "nation")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), out_dir, "customer")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}), out_dir, "supplier")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}), out_dir, "part")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}), out_dir, "orders")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")}), out_dir, "lineitem")
    # events: one ordered stream over 30 days, whole-microsecond stamps
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(micros, unit="us"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}), out_dir, "events")
    # documents: every 20th document repeats one of the 19 before it
    # plus " dup", so every seed has the same duplicate structure (one
    # pair per block; no chains, which would change the clustering's
    # fixpoint rounds from seed to seed)
    texts = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[i - 1 - int(rng.integers(0, 19))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}), out_dir, "documents")
    v = rng.normal(size=(n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}), out_dir, "embeddings")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
