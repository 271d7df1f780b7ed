"""Deterministic synthetic inputs for the benchmark.

Every table the package's catalog knows (``catalog.TABLES``) is written
with the column types and value shapes of the project's test data: a
TPC-H-like star schema, an ``events`` fact (30 days of January 2024,
five event types, exponential ``value``), a ``documents`` corpus drawn
from a 30-word vocabulary with 5% ``" dup"``-suffixed copies, and
64-dimensional unit ``embeddings`` clustered around ten labels.

The tables depend only on the scale (``sf``): a run's ``--seed`` never
changes them, so curated row counts, content hashes and export key
trees can be pinned. The seed decides only how the realtime feed is cut
into deliveries and in which order they land (``workloads.stage_feed``).

Facts can be written as a directory of part files (``parts > 1``) so
Spark's scan gets one split per file, as the tiled scale tier does.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_BASE_SEED = 20240101

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (the test data's proportions)."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 15),
        "supplier": n(10_000, 10),
        "part": n(200_000, 20),
        "orders": n(1_500_000, 150),
        "lineitem": n(6_000_000, 600),
        "events": n(1_000_000, 1000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _day(dt: str) -> np.datetime64:
    return np.datetime64(dt, "us")


def _dates(rng, n: int, lo: str, days: int) -> np.ndarray:
    return _day(lo) + rng.integers(0, days, n).astype("timedelta64[D]")


def _tables(sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(_BASE_SEED)
    c = row_counts(sf)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    nc = c["customer"]
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = c["supplier"]
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = c["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": rng.choice(names, npart),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": np.round(
                900.0 + (np.arange(npart) % 1000) * 0.1, 2
            ),
        }
    )
    no = c["orders"]
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            "o_orderdate": _dates(rng, no, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = c["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": rng.integers(0, npart, nl).astype("int64"),
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _dates(rng, nl, "1995-01-02", 2498),
        }
    )
    ne = c["events"]
    users = max(15, int(round(15_000 * sf)))
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": _day("2024-01-01") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, users, ne).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = c["documents"]
    lens = rng.integers(10, 101, nd)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + ln]))
        at += ln
    dup = rng.random(nd) < 0.05
    src = rng.integers(0, nd, nd)
    texts = [
        texts[s] + " dup" if d and s != i else x
        for i, (x, d, s) in enumerate(zip(texts, dup, src))
    ]
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    nv = c["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vec = centers[labels] * 0.1 + rng.normal(0.0, 1.0, (nv, DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": list(vec.astype("float32")),
            "label": labels.astype("int32"),
        }
    )
    return t


def _write(df: pd.DataFrame, path: str, parts: int) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    if parts <= 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


FACTS = ("orders", "lineitem", "events", "documents", "embeddings")


def build_dataset(dst: str, sf: float, parts: int = 1) -> dict[str, int]:
    """Write every table under ``dst`` as ``<name>.parquet`` (facts as
    ``parts`` files when ``parts > 1``). Returns the row counts."""
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    tables = _tables(sf)
    for name, df in tables.items():
        _write(df, os.path.join(dst, f"{name}.parquet"), parts if name in FACTS else 1)
    return {k: len(v) for k, v in tables.items()}
