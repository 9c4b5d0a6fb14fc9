"""Seed-driven synthetic inputs: a TPC-H-shaped star plus the documents,
events and embeddings tables the query registry reads.

Same schemas and value domains as the fixed test tables (one parquet file
per table), so every registry query and its DuckDB oracle run unchanged on
them. The same ``(seed, sf)`` always produces the same rows.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()

_US = np.dtype("datetime64[us]")


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype(_US)


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tpch_tables(seed: int, sf: float) -> dict[str, dict]:
    """The seven TPC-H-shaped tables as ``{name: {column: array}}``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    i32 = pa.int32()
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    }
    return t


def corpus_tables(seed: int, sf: float, n_docs: int = 500) -> dict[str, dict]:
    """``events``, ``documents`` (5% planted near-duplicates) and 64-dim
    unit ``embeddings`` with ten weak clusters."""
    rng = np.random.default_rng([seed, 2])
    n_ev = max(1000, int(1_000_000 * sf))
    start = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
    ts = np.sort(rng.uniform(start, start + 30 * 86400, n_ev))
    t: dict[str, dict] = {}
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array((ts * 1e6).astype(np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 100, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 0.15, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    return t


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table under ``out_dir`` as ``<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for tables in (tpch_tables(seed, sf), corpus_tables(seed, sf)):
        for name, cols in tables.items():
            _write(out_dir, name, cols)
