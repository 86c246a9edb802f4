"""Seeded input generators for the three workloads.

Inputs are derived from ``--seed`` alone: the analytics tables (the
star schema plus the ``events``, ``documents`` and ``embeddings``
extras, with the column names, types and value domains the registered
queries and their DuckDB oracles expect), Zipf-skewed tick symbols and
the bulk workload's pandas micro-batches. The tick arrival schedule is
in ``tick_stream.py``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, exact as the SQL literals the oracles use
    (integer cents divided once)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(base: dt.date, offsets: np.ndarray) -> pa.Array:
    start = np.datetime64(base.isoformat(), "ms")
    return pa.array(start + offsets.astype("timedelta64[D]"),
                    type=pa.timestamp("ms"))


def analytics_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The query suite's input tables at scale factor ``sf`` (lineitem
    has about 6M * sf rows), deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {n}" for a in _PART_ADJ for n in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0,
    })
    odays = rng.integers(0, 2400, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), odays),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(dt.date(1995, 1, 1),
                            np.repeat(odays, per) + rng.integers(1, 95, n_li)),
    })
    # distinct microsecond timestamps over 30 days, stored as parquet
    # TIMESTAMP(NANOS) like the reference data (catalog.table reads it)
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.choice(span_us, n_ev, replace=False))
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array((ts0 + ts_us.astype("timedelta64[us]")).astype("datetime64[ns]"),
                       pa.timestamp("ns")),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, the layout the
    engine's split-layout cache rewrites on first access."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tab.num_rows))


# -- streaming inputs ---------------------------------------------------

SYMBOLS = [f"sym{i:03d}" for i in range(64)]


def zipf_symbols(rng: np.random.Generator, n: int, s: float = 1.1) -> np.ndarray:
    """``n`` symbols drawn with Zipf(s) skew over a fixed universe."""
    w = 1.0 / np.arange(1, len(SYMBOLS) + 1) ** s
    return rng.choice(SYMBOLS, n, p=w / w.sum())


class BulkBatches:
    """Endless seeded stream of fact-table micro-batches for the bulk
    workload: ``batch(i)`` is a pandas frame of ``rows`` facts with ids
    continuing from the previous batch."""

    def __init__(self, seed: int, rows: int, n_groups: int, n_dims: int):
        self.rng = np.random.default_rng(seed)
        self.rows = rows
        self.n_groups = n_groups
        self.n_dims = n_dims
        self.next_id = 0

    def batch(self) -> pd.DataFrame:
        n, rng = self.rows, self.rng
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pd.DataFrame({
            "id": ids,
            "grp": rng.integers(0, self.n_groups, n).astype(np.int64),
            "dim": rng.integers(0, self.n_dims, n).astype(np.int64),
            "qty": rng.integers(1, 100, n).astype(np.int64),
            "price": rng.integers(100, 100_000, n) / 100.0,
        })

    def dims(self) -> pd.DataFrame:
        rng = self.rng
        return pd.DataFrame({
            "dim": np.arange(self.n_dims, dtype=np.int64),
            "region": rng.choice(_REGIONS, self.n_dims),
        })
