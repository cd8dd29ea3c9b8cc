"""Seeded generator for the catalog tables the ``catalog_mix`` queries read.

The tables follow the shape of the repository's scale-factor test data
(TPC-H-like star schema plus ``events`` and ``documents``):
the same column names, the same physical parquet types (pandas → pyarrow,
``timestamp[us]``), the same key ranges per scale factor and uniform value
distributions. Only the tables the mix reads are written. The seed changes
every value but no size or distribution, so two seeds cost the same work.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier orders lineitem events documents".split()
)

# rows per table at scale factor 1 (the shape of the repository's test data)
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _write(out_dir: str, name: str, df: pd.DataFrame) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), f"{out_dir}/{name}.parquet")


def _days(rng, n, start: str, end: str):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> pd.DataFrame:
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 96))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    # a few exact copies and one-word edits of earlier documents, so the
    # near-duplicate queries have pairs to find (about 2% of the corpus)
    for i in rng.choice(np.arange(n // 2, n), size=max(2, n // 50), replace=False):
        words = texts[int(rng.integers(0, n // 2))].split()
        if rng.random() < 0.5:
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[i] = " ".join(words)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n)],
            "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the catalog tables for ``sf`` into ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(r * sf)) for t, r in _ROWS_PER_SF.items()}

    _write(out_dir, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out_dir, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    nc = n["customer"]
    _write(out_dir, "customer", pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)],
    }))
    ns = n["supplier"]
    _write(out_dir, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }))
    no = n["orders"]
    _write(out_dir, "orders", pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)],
    }))
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, max(10, int(200_000 * sf)), nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-12-31"),
    }))
    ne = n["events"]
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    _write(out_dir, "events", pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), ne).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.0, 200.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }))
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    return n
