"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
single-row-group parquet file each, with the schemas and value
distributions of the snapshots its test suite reads: a TPC-H-like star
schema, an event stream, a small-vocabulary text corpus with 5% planted
near-duplicates, and 64-dimensional unit embeddings drawn around ten
label centroids.

Everything is drawn from one ``numpy`` generator seeded by ``seed``, so
the same ``(sf, seed)`` always gives byte-identical column values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: table -> rows at sf=1 (dimensions are fixed-size, see ``row_counts``)
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "old"]
_PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    n = {t: max(1, round(r * sf)) for t, r in _ROWS_PER_SF.items()}
    n["region"] = 5
    n["nation"] = 25
    n["documents"] = max(500, round(50_000 * sf))
    n["embeddings"] = max(500, round(20_000 * sf))
    return n


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    i32 = pa.int32()

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(_EPOCH_2024, _EPOCH_2024 + 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, nc // 10), ne),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, nd: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    text = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(10, 100, nd)
    ]
    # 5% near-duplicates: an earlier document's text plus one token
    for i in rng.choice(np.arange(1, nd), size=nd // 20, replace=False):
        text[i] = text[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": [_LANGS[i] for i in rng.choice(5, size=nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })


def _embeddings(rng, nv: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centroids = rng.normal(0.0, 0.07, (labels, dim))
    label = rng.integers(0, labels, nv)
    vec = rng.normal(0.0, 1.0, (nv, dim)) + centroids[label]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, nv * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir`` and return its row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(sf, seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        counts[name] = table.num_rows
    return counts
