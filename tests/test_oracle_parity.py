"""Differential test: every registered query with an oracle must match
DuckDB exactly at sf0.001 (the driver repeats this at sf0.01)."""

from __future__ import annotations

import re

import pytest

import chess_ratings_spark.plans  # noqa: F401
from chess_ratings_spark.registry import REGISTRY

from .conftest import SF_SMOKE, compare_frames

ORACLE_IDS = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_IDS = sorted(name for name, q in REGISTRY.items() if q.oracle is None)

#: a harness-named temp view: a memory sink or scratch view, ``<prefix>_``
#: plus 12 hex characters
_SCRATCH_VIEW = re.compile(r"_[0-9a-f]{12}$")


@pytest.fixture(autouse=True)
def session_hygiene(request):
    """A query leaves the driver's session as it found it: no running
    stream, no new scratch temp view and an unchanged ``SET`` listing
    (``spark.conf.getAll``, which runs no Spark job)."""
    if request.node.originalname not in ("test_oracle_parity", "test_rows_only_runs"):
        yield
        return
    spark = request.getfixturevalue("spark")

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    views_before, conf_before = views(), spark.conf.getAll
    yield
    assert not spark.streams.active, "a streaming query is still running"
    leaked = sorted(v for v in views() - views_before if _SCRATCH_VIEW.search(v))
    assert not leaked, f"temp views left behind: {leaked}"
    conf_after = spark.conf.getAll
    changed = sorted(
        k for k in conf_before.keys() | conf_after.keys()
        if conf_before.get(k) != conf_after.get(k)
    )
    assert not changed, f"session confs changed: {changed}"


@pytest.mark.parametrize("name", ORACLE_IDS)
def test_oracle_parity(spark, ducks, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_SMOKE)
    compare_frames(df, ducks(SF_SMOKE), q.oracle, qname=name)


@pytest.mark.parametrize("name", ROWS_ONLY_IDS)
def test_rows_only_runs(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 2


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())
