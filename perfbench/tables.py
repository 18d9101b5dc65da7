"""Seeded generator of the query_mix tables and the DuckDB oracle check.

The tables follow the layout and value distributions of the engine's test
data (a TPC-H-like star schema plus `events`, `documents` and
`embeddings`), scaled by `sf`: the same (seed, sf) always writes the same
rows. The oracle check runs each query's `SparkEntry.oracleSql` in DuckDB
over the same parquet and compares it with the engine's result using the
rule of `tools/check.py`: columns sorted by name, then row by row.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def generate(out_dir, seed, sf):
    """Write the ten tables for (seed, sf) under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150000 * sf)
    n_supp = max(10, int(10000 * sf))
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_li = int(6000000 * sf)
    n_ev = int(1000000 * sf)
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    n_user = max(15, int(15000 * sf))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": regions})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})

    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist()})

    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})

    # events: strictly increasing microsecond timestamps over 30 days
    span_us = 30 * 86400 * 1000000
    ts = np.sort(rng.choice(span_us, n_ev, replace=False)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev).astype(np.int64)),
        "event_type": etypes[rng.integers(0, 5, n_ev)].tolist(),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random bags over a small vocabulary; ~5% carry a "dup"
    # marker and a few are exact copies of an earlier document, so the
    # dedup and similarity rows have work to find
    vocab = np.array(VOCAB)
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n_doc)]
    texts = []
    for i in range(n_doc):
        words = vocab[rng.integers(0, len(vocab), rng.integers(10, 100))].tolist()
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    emb = rng.normal(size=(n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def oracle_check(data_dir, out_dir):
    """Compare each engine result under out_dir/<name> with the DuckDB run
    of its oracle SQL (out_dir/oracle_sql.json). Returns {name: None if
    equal else a reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdict = {}
    for name in sorted(oracle):
        try:
            exp = con.execute(oracle[name]).fetch_arrow_table().to_pylist()
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_arrow_table().to_pylist()
        except Exception as e:  # a query that cannot be checked is a failure
            verdict[name] = f"exception: {e}"
            continue
        exp_cols = sorted(exp[0]) if exp else []
        got_cols = sorted(got[0]) if got else []
        exp_r = [[_norm(r[k]) for k in sorted(r)] for r in exp]
        got_r = [[_norm(r[k]) for k in sorted(r)] for r in got]
        if not exp_r:
            verdict[name] = "oracle returned no rows"
        elif exp_cols != got_cols:
            verdict[name] = f"columns {got_cols} != {exp_cols}"
        elif exp_r != got_r:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(exp_r, got_r)) if a != b]
            verdict[name] = f"rows exp={len(exp_r)} got={len(got_r)} first-diffs={diffs[:2]}"
        else:
            verdict[name] = None
    return verdict
