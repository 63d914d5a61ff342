"""Shared fixtures: one local SparkSession per test run + a DuckDB
oracle comparator that mirrors the driver's check (row-count + columns +
order-insensitive exact value match)."""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

from chess_ratings_spark.tables import TABLES  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from chess_ratings_spark.session import get_spark

    s = get_spark("chess-ratings-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ducks():
    """DuckDB connections with fixture views registered, keyed by sf dir."""
    cons: dict[str, duckdb.DuckDBPyConnection] = {}

    def get(sf_dir: str) -> duckdb.DuckDBPyConnection:
        if sf_dir not in cons:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            cons[sf_dir] = con
        return cons[sf_dir]

    yield get
    for c in cons.values():
        c.close()


@contextmanager
def job_count(spark):
    """Run the body under a fresh job group; yields a callable giving
    the number of Spark jobs the group has launched so far."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    before = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", before)


def _norm(v):
    """Normalize a cell for exact cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return repr(f)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return int(v)
    return v


def compare_frames(spark_df, con, sql: str, qname: str = "?"):
    """Driver-equivalent compare: columns (sorted names), row count, and
    order-insensitive multiset of normalized row values."""
    cur = con.execute(sql)
    oracle_cols = [d[0] for d in cur.description]
    oracle_rows = cur.fetchall()

    spark_cols = spark_df.columns
    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"{qname}: column mismatch spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    )
    from collections import Counter

    order = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])
    o_multi = Counter(tuple(_norm(r[i]) for i in order) for r in oracle_rows)

    s_rows = spark_df.collect()
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    s_multi = Counter(tuple(_norm(r[i]) for i in s_order) for r in s_rows)

    assert sum(s_multi.values()) == sum(o_multi.values()), (
        f"{qname}: row count spark={sum(s_multi.values())} oracle={sum(o_multi.values())}"
    )
    if s_multi != o_multi:
        only_s = list((s_multi - o_multi).keys())[:3]
        only_o = list((o_multi - s_multi).keys())[:3]
        raise AssertionError(
            f"{qname}: value mismatch; spark-only rows: {only_s}; oracle-only rows: {only_o}"
            f" (cols sorted: {sorted(spark_cols)})"
        )
    # anti-vacuousness gate (round-1 lesson: a 0-row result hash-matches
    # trivially and proves nothing) — every oracled query must produce
    # rows at smoke SF; tune predicates rather than exempting queries
    assert sum(s_multi.values()) > 0, f"{qname}: oracled query returned 0 rows (vacuous)"
