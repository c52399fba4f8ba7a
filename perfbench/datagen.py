"""Seeded generator for the TPC-H-style tables the registry queries read.

The tables have the same names, columns and parquet types as the
project's fixed test data (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), with row counts
proportional to the scale factor.  The same seed and scale give
byte-identical parquet files.  The benchmark writes them from one fixed
seed (`workloads.DATA_SEED`), so every run reads the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("key agg row scan slow fast table value part hash merge batch spark a "
         "the line sort window data column join small customer query order "
         "group big stream filter vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
EMB_DIM = 64
EMB_LABELS = 10

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_US_PER_DAY = 86_400_000_000
_DAY0_1995 = np.datetime64("1995-01-01", "us")
_DAY0_2024 = np.datetime64("2024-01-01", "us")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices with two decimals, exact as binary-rounded cents."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    # seeded exact and near duplicates, so the dedup operators find groups
    for i in rng.choice(n, size=max(2, n // 50), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, size=max(2, n // 50), replace=False):
        words = texts[int(rng.integers(0, n))].split()
        j = int(rng.integers(0, len(words)))
        words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(words)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int):
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n).astype(np.int32)
    vec = centers[label] + 0.8 * rng.normal(size=(n, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
        pa.array(vec.reshape(-1), type=pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb,
                     "label": pa.array(label)})


def _sizes(sf: float) -> dict[str, int]:
    return {"cust": max(int(150_000 * sf), 50), "ord": max(int(1_500_000 * sf), 500),
            "li": max(int(6_000_000 * sf), 2000), "part": max(int(200_000 * sf), 100),
            "supp": max(int(10_000 * sf), 20), "ev": max(int(1_000_000 * sf), 1000),
            "doc": max(int(50_000 * sf), 100), "emb": max(int(20_000 * sf), 100),
            "user": max(int(15_000 * sf), 20)}


def _orders(seed: int, sf: float) -> tuple[pa.Table, np.ndarray]:
    """The orders table (from its own random stream) and its order days."""
    rng = np.random.default_rng([seed, 1])
    n = _sizes(sf)
    n_ord, n_cust = n["ord"], n["cust"]
    o_days = rng.integers(0, 2405, n_ord)
    return pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _DAY0_1995 + o_days.astype("timedelta64[D]"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}), o_days


def orders(seed: int, sf: float) -> pa.Table:
    """The orders table alone, the same as in `tables(seed, sf)`."""
    return _orders(seed, sf)[0]


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for one seed and scale factor."""
    rng = np.random.default_rng(seed)
    n = _sizes(sf)
    n_cust, n_ord, n_li, n_part = n["cust"], n["ord"], n["li"], n["part"]
    n_supp, n_ev, n_doc, n_emb, n_user = (n["supp"], n["ev"], n["doc"],
                                          n["emb"], n["user"])
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"], o_days = _orders(seed, sf)
    l_ord = rng.integers(0, n_ord, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": (_DAY0_1995 + (o_days[l_ord] + rng.integers(1, 122, n_li))
                       .astype("timedelta64[D]"))})
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _DAY0_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(20.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = pa.table(_documents(rng, n_doc))
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as `<out_dir>/<name>.parquet`; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
