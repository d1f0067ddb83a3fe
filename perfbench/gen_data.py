"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine reads (``sources.tables.TABLES``) as
one parquet file each, with the column names and arrow types the
engine and its DuckDB oracles expect (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``): 150 customers, 1,500
orders, ~6,000 lineitems, 500 documents and 500 embeddings. The tables
depend only on the fixed ``DATA_SEED``: the benchmark's ``--seed``
permutes query order, never the data, so every run of a workload reads
byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDER = 150, 10, 200, 1500
N_EVENT, N_DOCUMENT, N_EMBEDDING, N_USER = 1000, 500, 500, 20

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "small", "large", "shiny", "hot", "old", "new", "dark"]
PART_NOUN = ["widget", "bolt", "gear", "spring", "valve", "nut", "panel"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.38, 0.15, 0.16, 0.16, 0.15]
VOCAB = (
    "the a data row column table key value join filter sort merge hash "
    "scan group agg order line part customer query window stream batch "
    "spark vector big small fast slow dup"
).split()

_MS_PER_DAY = 86_400_000
_DAY_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_DAY_SPAN = 2404  # 1995-01-01 .. 2001-08-01
_US_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates_ms(rng: np.random.Generator, n: int, extra_days: int = 0) -> pa.Array:
    days = _DAY_1995 + rng.integers(0, _DAY_SPAN + extra_days, n)
    return pa.array(days.astype(np.int64) * _MS_PER_DAY, pa.timestamp("ms"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Word-soup documents; every tenth one is a light edit of an
    earlier document so the near-duplicate operators have pairs to
    find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 90))
        texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(rng.integers(47, 559, n).astype(np.int64)),
    }


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER).tolist()),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    }
    t["part"] = {
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": pa.array(
            [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(PART_ADJ), N_PART),
                    rng.integers(0, len(PART_NOUN), N_PART),
                )
            ]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(PART_TYPES, N_PART).tolist()),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(N_PART) * 0.1, 2)),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(N_ORDER, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDER).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDER).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDER)),
        "o_orderdate": _dates_ms(rng, N_ORDER),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDER).tolist()),
    }
    lines = rng.integers(1, 8, N_ORDER)
    n_line = int(lines.sum())
    t["lineitem"] = {
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDER, dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_line).astype(np.int64)),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
        ),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 100000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": _dates_ms(rng, n_line, extra_days=95),
    }
    gaps = rng.integers(1, 600_000_000, N_EVENT)  # up to 10 min apart
    t["events"] = {
        "event_id": pa.array(np.arange(N_EVENT, dtype=np.int64)),
        "ts": pa.array(_US_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USER, N_EVENT).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENT).tolist()),
        "value": pa.array(_money(rng, 0.0, 500.0, N_EVENT)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENT)]),
    }
    t["documents"] = _documents(rng, N_DOCUMENT)
    emb = rng.normal(0.0, 0.1, (N_EMBEDDING, 64)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(N_EMBEDDING, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDING).astype(np.int32)),
    }
    return {name: pa.table(cols) for name, cols in t.items()}


def write_tables(out_dir: str) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

