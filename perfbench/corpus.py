"""Deterministic synthetic corpus in the schema graft's queries read
(FIXTURES.md §A): a TPC-H-like star schema plus the events, documents and
embeddings tables, one parquet file per table.

The corpus is fixed (generator seed 42, scale factor 0.01) so that the
benchmark can store the expected hash of every query result; the workload
seed varies the op order and the stream, not the tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SF = 0.01
# Table sizes and text/vector distributions as measured on the reference
# sf0.01 corpus (see perfbench/README.md, "Inputs").
DOCS = 500
NEAR_DUPS = DOCS // 20
EMBEDDINGS = 500
DIM = 64

WORDS = ("row the query stream fast spark line small customer group value hash batch "
         "sort data big filter key agg scan slow table part a merge window order "
         "column join vector").split()
ADJ = "small red new hot cold large old blue".split()
NOUN = "ring widget bolt anvil rod plate gear valve".split()


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, size=n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def tables():
    rng = np.random.default_rng(SEED)
    n_c, n_s, n_p = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_o, n_l, n_e = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_p, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": types[rng.integers(0, 6, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": prio[rng.integers(0, 5, n_o)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    t["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, int(15_000 * SF), n_e),
        "event_type": np.array(["click", "purchase", "error", "signup", "view"])[
            rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng):
    """Bags of 10-99 words drawn uniformly from WORDS. One document in
    twenty is the near-duplicate of another: its text plus the word
    "dup". The order is shuffled, so a copy may come before its original."""
    base = [" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), size=rng.integers(10, 100)))
            for _ in range(DOCS - NEAR_DUPS)]
    dups = [base[i] + " dup" for i in rng.choice(len(base), size=NEAR_DUPS, replace=False)]
    texts = [(base + dups)[i] for i in rng.permutation(DOCS)]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), DOCS)],
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def _embeddings(rng):
    """Unit vectors in uniformly random directions; the label is drawn
    independently of the vector."""
    v = rng.normal(size=(EMBEDDINGS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, EMBEDDINGS).astype(np.int32)})


def write(out_dir):
    """Write every table as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables().items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
