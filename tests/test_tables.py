"""Loader contract tests for ``tables.load_events``.

The driver regenerates fixtures between rounds and has already changed
the physical parquet type of ``events.ts`` once (TIMESTAMP(NANOS)
through round 3 → ``timestamp[us]`` from round 4), which silently broke
every events-touching plan for a full round. These tests pin the
contract — ``ts`` TIMESTAMP_NTZ (µs), ``ts_ns`` BIGINT epoch nanos, one
identical set of values — across every physical encoding the loader
supports, each written on the fly with pyarrow.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from chess_ratings_spark import tables

# Two µs-precision wall instants; the second exercises a non-zero
# sub-second component so lossless µs round-tripping is actually tested.
_WALL = [
    dt.datetime(2024, 3, 1, 12, 0, 0),
    dt.datetime(2024, 3, 2, 1, 2, 3, 456789),
]
_EPOCH_US = [int(w.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) for w in _WALL]
# exact ints (timestamp() is float); recompute without float round-trip
_EPOCH_US = [
    (w - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) for w in _WALL
]


def _write_events(tmpdir: str, ts_array: pa.Array) -> str:
    """Write a minimal events fixture whose ts column is `ts_array`."""
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(['{"a":1}', '{"b":2}'], pa.string()),
        }
    )
    path = f"{tmpdir}/events.parquet"
    pq.write_table(tbl, path)
    return tmpdir


def _assert_contract(spark, sf_dir: str) -> None:
    df = tables.load_events(spark, sf_dir)
    assert df.columns == list(tables._EVENT_COLS)
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert df.schema["ts_ns"].dataType.typeName() == "long"
    rows = {r["event_id"]: r for r in df.collect()}
    for eid, wall, us in zip([1, 2], _WALL, _EPOCH_US):
        assert rows[eid]["ts"] == wall, f"event {eid}: {rows[eid]['ts']} != {wall}"
        assert rows[eid]["ts_ns"] == us * 1000


def test_load_events_timestamp_us_ntz(spark, tmp_path):
    """Current driver fixture shape: parquet timestamp[us], no tz."""
    sf = _write_events(str(tmp_path), pa.array(_WALL, pa.timestamp("us")))
    _assert_contract(spark, sf)


def test_load_events_timestamp_us_utc(spark, tmp_path):
    """isAdjustedToUTC=true variant: Spark resolves LTZ; loader must
    rebuild the identical UTC wall time regardless of session tz."""
    arr = pa.array(_EPOCH_US, pa.timestamp("us", tz="UTC"))
    sf = _write_events(str(tmp_path), arr)
    _assert_contract(spark, sf)


def test_load_events_timestamp_nanos_legacy(spark, tmp_path):
    """Round-1..3 fixture shape: TIMESTAMP(NANOS), which Spark's reader
    rejects without the nanosAsLong conf."""
    arr = pa.array([us * 1000 for us in _EPOCH_US], pa.int64()).cast(
        pa.timestamp("ns")
    )
    sf = _write_events(str(tmp_path), arr)
    _assert_contract(spark, sf)
    # conf restored after the read
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
    )


def test_load_events_long_nanos(spark, tmp_path):
    """A plain int64 ts column (e.g. a session globally running with
    nanosAsLong) takes the epoch-nanos rebuild path."""
    arr = pa.array([us * 1000 for us in _EPOCH_US], pa.int64())
    sf = _write_events(str(tmp_path), arr)
    _assert_contract(spark, sf)


def test_load_events_tz_independent(spark, tmp_path):
    """The contract values must not move when the session timezone does
    — the whole point of the NTZ + wall-arithmetic design."""
    sf = _write_events(str(tmp_path), pa.array(_WALL, pa.timestamp("us")))
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
        _assert_contract(spark, sf)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        _assert_contract(spark, sf)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_load_events_real_fixture(spark):
    """Whatever type the driver's current fixture uses, the loader must
    produce the contract schema and non-zero rows."""
    df = tables.load_events(spark, "/root/testdata/sf0.001")
    assert df.columns == list(tables._EVENT_COLS)
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    n = df.count()
    assert n > 0
    # ts and ts_ns must agree at µs precision
    import pyspark.sql.functions as F

    bad = df.filter(
        F.expr(tables._MICROS_FROM_NTZ.format(ts="ts") + " * 1000 != ts_ns")
    ).count()
    assert bad == 0


def _jobs_and_plan(spark, df):
    """Spark jobs one collect of ``df`` runs, and its executed plan."""
    import uuid

    sc = spark.sparkContext
    group = f"literal-{uuid.uuid4().hex}"
    before = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", before)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group)), plan


def test_literal_tables_are_single_partition(spark):
    """local_table and local_row start from a one-partition range, so
    ordering a literal table needs no range-sampling job and no
    shuffle: each executes as one job with no Exchange in its plan."""
    t = tables.local_table(
        spark, [(3, "c"), (1, "a"), (2, "b")], [("k", "int"), ("s", "string")]
    ).orderBy("k")
    rows, n_jobs, plan = _jobs_and_plan(spark, t)
    assert [(r.k, r.s) for r in rows] == [(1, "a"), (2, "b"), (3, "c")]
    assert n_jobs == 1
    assert "Exchange" not in plan, plan

    r = tables.local_row(spark, ("n", 7, "bigint"), ("ok", True, "boolean"))
    rows, n_jobs, plan = _jobs_and_plan(spark, r)
    assert [tuple(x) for x in rows] == [(7, True)]
    assert n_jobs == 1
    assert "Exchange" not in plan, plan
