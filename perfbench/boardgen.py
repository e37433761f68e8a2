"""Seeded input tables for the operator board.

Writes the tables the board's queries read (customer, orders, lineitem,
events, documents) as one parquet file each, in the same
column names, types and value domains as the repository's synthetic
TPC-H-ish test tables: the same seed always gives byte-identical files.
Money columns are whole cents, dates are whole days, document text is
drawn from a small word list with a few near-duplicates (`... dup`).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# rows at scale 1.0 (the size of the repository's sf0.01 tables)
BASE_ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500}


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x * 100.0) / 100.0


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    return (lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)).astype("datetime64[us]")


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    n = {t: max(20, int(r * scale)) for t, r in BASE_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })

    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })

    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, nl)),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    steps = rng.integers(1, int(30 * 86400e6 / ne), ne).cumsum()
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(t0 + steps.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.clip(_cents(rng.exponential(50.0, ne)), 0.01, None),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, WORDS, int(rng.integers(10, 101)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
