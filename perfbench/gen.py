"""Seeded synthetic inputs: the ten reference tables and the event stream.

The tables have the reference test data's schema and value domains (see
TESTDATA.md): the same column names and types, key ranges, category sets
and text vocabulary, at a row count scaled by ``sf`` (sf0.1 has 100k
events, 5000 documents, 150k orders). Everything derives from one numpy
Generator seeded by the run's ``--seed``, so a seed always stages the
same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: the documents vocabulary: 30 words + the near-duplicate marker
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
DUP_WORD = "dup"
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DIM = 64
N_LABELS = 10

_EPOCH_2024 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _days(start: dt.date, end: dt.date, n: int, rng) -> np.ndarray:
    lo = (start - dt.date(1970, 1, 1)).days
    hi = (end - dt.date(1970, 1, 1)).days
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, n: int) -> list[str]:
    """``n`` documents of 10..100 words drawn uniformly from VOCAB."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return out


def make_events(rng, n: int, n_users: int, span_us: int) -> pa.Table:
    """``n`` events over ``span_us`` from 2024-01-01, sorted by ``ts``;
    ``event_id`` is the rank."""
    ts = np.sort(rng.integers(0, span_us, n)) + _EPOCH_2024
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def stream_events(seed: int, n: int) -> pa.Table:
    """The stream's events, at the reference data's density (100k per 30 days)."""
    rng = np.random.default_rng([seed, 4])
    return make_events(rng, n, 1500, int(n / 100_000 * 30 * _DAY_US))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(10, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    n_li = 4 * n_ord
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li, rng)})
    t["events"] = make_events(rng, n_events, n_users, 30 * _DAY_US)
    texts = doc_texts(rng, n_docs)
    # ~5% near-duplicates (an earlier doc + the marker word) and ~0.2%
    # exact copies, so the dedup operators have work to find
    for i in range(1, n_docs):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " " + DUP_WORD
        elif u < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, N_LABELS, n_vecs)
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    v = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(sf_dir, f"{name}.parquet"))


def batch_key_order(seed: int, keys: list[str]) -> list[str]:
    rng = np.random.default_rng([seed, 3])
    return [keys[i] for i in rng.permutation(len(keys))]
