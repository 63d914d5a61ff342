"""Seeded fixture generator for the benchmark.

Writes the ten fixture tables the engine reads (``tables.TABLES``), one
parquet file each, with the same column names, Arrow types and value
domains as the star-schema test fixtures (FIXTURES.md), at sf0.01
(60k lineitem rows). The same seed always gives byte-identical inputs,
so a run can be repeated exactly; a different seed gives different
values of the same shape and size.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

# Row counts at sf0.01.
N_CUST = 1_500
N_SUPP = 100
N_PART = 2_000
N_ORD = 15_000
N_LINE = 60_000
N_EV = 10_000
N_USERS = N_EV // 66
N_DOCS = 500
N_EMB = 500


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(n: int, rng: np.random.Generator) -> dict:
    """Random bag-of-words texts; ~5% are a near-duplicate of an earlier
    document (its text plus a trailing ``dup``) and a few are exact
    copies, so the dedup operators have real pairs to find."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(n: int, rng: np.random.Generator) -> dict:
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def tables(seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables for ``seed``."""
    rng = np.random.default_rng(seed)

    out: dict[str, dict] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    out["customer"] = {
        "c_custkey": pa.array(np.arange(N_CUST, dtype=np.int64)),
        "c_name": pa.array(_keyed_names("Customer", N_CUST)),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST).astype(np.int32)),
        "c_acctbal": pa.array(_money(-999.99, 9999.99, N_CUST, rng)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUST).tolist()),
    }
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(N_SUPP, dtype=np.int64)),
        "s_name": pa.array(_keyed_names("Supplier", N_SUPP)),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP).astype(np.int32)),
        "s_acctbal": pa.array(_money(-999.99, 9999.99, N_SUPP, rng)),
    }
    keys = np.arange(N_PART, dtype=np.int64)
    out["part"] = {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(PART_TYPES, N_PART).tolist()),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    }
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(N_ORD, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORD).tolist()),
        "o_totalprice": pa.array(_money(1000.0, 500000.0, N_ORD, rng)),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", N_ORD, rng)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORD).tolist()),
    }
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINE).astype(np.float64)),
        "l_extendedprice": pa.array(_money(900.0, 105000.0, N_LINE, rng)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINE) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINE) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINE).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINE).tolist()),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", N_LINE, rng)),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, month_us, N_EV)).astype("timedelta64[us]")
    out["events"] = {
        "event_id": pa.array(np.arange(N_EV, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EV).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EV).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, N_EV), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EV)]),
    }
    out["documents"] = _documents(N_DOCS, rng)
    out["embeddings"] = _embeddings(N_EMB, rng)
    return {name: pa.table(cols) for name, cols in out.items()}


def write(out_dir: Path, seed: int) -> None:
    """Write the fixtures for ``seed`` under ``out_dir``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
