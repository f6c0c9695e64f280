"""Seeded inputs for the graft benchmark.

The tables follow the layout the registry entries read (FIXTURES.md):
a TPC-H-like star schema, an `events` stream table, a `documents` corpus
with planted near-duplicates and an `embeddings` table of unit vectors,
one parquet file (one row group) per table. Row counts scale with `sf`
the way the fixture sets do (sf0.1 → 600k lineitem rows). The same seed
gives byte-identical files.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pin", "valve"]
EVENT_TYPES = ["error", "signup", "purchase", "view", "click"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(table, path):
    pq.write_table(table, str(path), row_group_size=max(1, table.num_rows))


def base_tables(sf, seed):
    """Every table but the corpus, as {name: pyarrow.Table}."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lpart = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart] * rng.uniform(1.0, 2.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498), pa.timestamp("us"))})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def corpus(n_docs, n_vecs, seed):
    """(documents, embeddings): word-soup documents, 5% of them a copy of
    another document plus the token 'dup' and a few exact copies; unit
    float vectors of length 64 with labels 0..9."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return docs, emb


def subset(table, frac, rng):
    """A seeded row subset of `table`, in its original order."""
    keep = np.sort(rng.choice(table.num_rows, int(table.num_rows * frac), replace=False))
    return table.take(pa.array(keep))


def write_inputs(data, sf, seed, n_docs, n_vecs, versions=None, version_frac=0.9,
                 version_seed=None):
    """Write every table under `data`. With a `versions` directory, the
    corpus is instead written there as `versions` row-subset versions
    v<k>/{documents,embeddings}.parquet, one of which the harness swaps
    into `data` before each op; `version_seed` (default `seed`) draws the
    subsets."""
    data = Path(data)
    data.mkdir(parents=True, exist_ok=True)
    for name, table in base_tables(sf, seed).items():
        _write(table, data / f"{name}.parquet")
    docs, emb = corpus(n_docs, n_vecs, seed)
    if versions is None:
        _write(docs, data / "documents.parquet")
        _write(emb, data / "embeddings.parquet")
        return
    root, count = versions
    rng = np.random.default_rng([seed if version_seed is None else version_seed, 3])
    for k in range(count):
        vdir = Path(root) / f"v{k}"
        vdir.mkdir(parents=True, exist_ok=True)
        _write(subset(docs, version_frac, rng), vdir / "documents.parquet")
        _write(subset(emb, version_frac, rng), vdir / "embeddings.parquet")
