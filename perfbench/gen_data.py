"""Deterministic generator for the benchmark's fixture tables.

Writes the ten tables the query modules read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group parquet file each, with the schemas and value
distributions described in FIXTURES.md. Row counts scale with `sf` the way
the fixture corpus does (lineitem = 6M * sf; documents and embeddings have
a floor of 500 rows).

Usage: python3 perfbench/gen_data.py <out_dir> <sf> [seed]
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark line small fast group customer part column order scan a slow "
         "agg key window table merge vector join query row stream the batch "
         "sort value hash filter big data").split()
ADJ = "blue old small new large hot cold red".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()


def _ts(days, base):
    return pd.Timestamp(base) + pd.to_timedelta(days, unit="D")


def _write(df, out_dir, name, schema=None):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    # pandas holds ns; the fixtures store naive microsecond timestamps
    table = table.cast(pa.schema([
        f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
        for f in table.schema], metadata=table.schema.metadata))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, len(df)))


def generate(out_dir, sf, seed=42):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord, n_line = int(200000 * sf), int(1500000 * sf), int(6000000 * sf)
    n_evt, n_user = int(1000000 * sf), max(1, int(15000 * sf))
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        out_dir, "region")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}), out_dir, "nation")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"])
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}), out_dir, "customer")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}), out_dir, "supplier")

    pk = np.arange(n_part, dtype=np.int64)
    types = np.array(["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"])
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}), out_dir, "part")

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]}), out_dir, "orders")

    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(0, 2498, n_line), "1995-01-02")}),
        out_dir, "lineitem")

    span_us = 30 * 86400 * 1000000
    ts_us = np.sort(rng.integers(0, span_us, n_evt))
    _write(pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(ts_us, unit="us"),
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        out_dir, "events")

    # 5% of documents are an earlier document plus a trailing " dup"
    # (near-duplicates), a few more are exact copies
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        out_dir, "documents")

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}), out_dir, "embeddings",
        schema=pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                          ("label", pa.int32())]))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
