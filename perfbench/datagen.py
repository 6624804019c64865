"""Seeded synthetic tables for the benchmark.

Writes the ten tables that ``sqlpp_spark.session.TABLES`` names, one
parquet file each, with the column names, types and value ranges of the
TPC-H-like fixtures the engine's tests use. Row counts scale with ``sf``
the same way (lineitem has 6M x sf rows; documents and embeddings never
drop below 500). The same ``(seed, sf)`` always writes the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _dates(rng, n: int, lo_day: int, hi_day: int) -> np.ndarray:
    days = rng.integers(lo_day, hi_day, n)
    return _EPOCH_1995 + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, df: pd.DataFrame) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup rows need
            # pairs to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pd.DataFrame:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write every table for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    _write(out_dir, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    _write(out_dir, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }))
    _write(out_dir, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 200) / 10.0, 1),
    }))
    _write(out_dir, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, 0, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }))
    _write(out_dir, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, 1, 2499),
    }))
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return out_dir
