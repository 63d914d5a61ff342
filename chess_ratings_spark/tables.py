"""Fixture table loaders.

All driver fixtures live as one parquet file per table under an sf dir
(``/root/testdata/sf*/``; see TESTDATA.md). Loading is a plain
``spark.read.parquet`` — vectorized columnar scan with predicate pushdown
and column pruning — except ``events``, whose ``ts`` physical type has
changed across driver fixture regenerations (TIMESTAMP(NANOS) through
round 3, ``timestamp[us]`` since round 4). ``load_events`` adapts to the
type actually present and normalizes to one contract: ``ts``
TIMESTAMP_NTZ plus ``ts_ns`` epoch-nanos BIGINT. NTZ (not LTZ) on
purpose: the fixture values are naive wall times and NTZ semantics are
session-timezone-independent, which keeps every downstream extraction
(year/window/bucket) deterministic no matter how the driver configured
its session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from chess_ratings_spark import staging
from chess_ratings_spark.session import conf_scope

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: epoch-micros long -> TIMESTAMP_NTZ, timezone-proof. NTZ + day-time
#: interval arithmetic never consults the session timezone (unlike
#: timestamp_micros(), which yields LTZ and shifts under collection).
#: The decimal division keeps microsecond precision exactly.
_NTZ_FROM_MICROS = (
    "cast('1970-01-01 00:00:00' as timestamp_ntz)"
    " + make_dt_interval(0, 0, 0, cast({us} as decimal(20,0)) / 1000000)"
)


def path_of(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


@staging.per_session
def ensure_package_shipped(spark: SparkSession) -> None:
    """Make `chess_ratings_spark` importable on Python workers.

    The driver process may run from any cwd with this repo added to
    sys.path at runtime — a path the spawned Python workers do NOT
    inherit, so any UDF whose closure references a module-level symbol
    dies with ModuleNotFoundError. Shipping the package once per
    session via addPyFile fixes every current and future UDF at the
    root. (On a real cluster this is --py-files/pip-installed envs;
    addPyFile is the runtime equivalent.)
    """
    import shutil
    import tempfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    zip_base = Path(tempfile.mkdtemp(prefix="crs_pkg_")) / "chess_ratings_spark_pkg"
    archive = shutil.make_archive(str(zip_base), "zip", root_dir=pkg_dir.parent, base_dir=pkg_dir.name)
    spark.sparkContext.addPyFile(archive)


@staging.per_session
def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table by name; `events` gets ts normalization."""
    ensure_package_shipped(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(path_of(sf_dir, name))


#: TIMESTAMP_NTZ -> epoch micros, timezone-proof — built purely from
#: FIELD EXTRACTION (unix_date/hour/minute/extract-second), which never
#:  consults a zone. Neither ``unix_micros`` (casts NTZ->LTZ through the
#: session timezone) nor ``timestampdiff`` against the NTZ epoch is
#: safe: timestampdiff on NTZ operands ALSO routes through the session
#: zone, so a wall time inside a DST spring-forward gap (e.g.
#: 2024-03-10 02:30 under America/New_York) comes back 1 h high and
#: aliases with the following hour (round-10 ADVICE repro). The ``L``
#: suffixes keep the arithmetic in BIGINT under ANSI mode;
#: extract(SECOND) is DECIMAL(8,6) carrying the full µs fraction.
_MICROS_FROM_NTZ = (
    "(unix_date(cast({ts} as date)) * 86400000000"
    " + (hour({ts}) * 3600L + minute({ts}) * 60L) * 1000000"
    " + cast(extract(SECOND FROM {ts}) * 1000000 AS BIGINT))"
)

_EVENT_COLS = ("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as TIMESTAMP_NTZ (µs) and ``ts_ns`` epoch nanos.

    Dtype-adaptive on purpose: the driver has regenerated this fixture
    with a different physical type before (parquet TIMESTAMP(NANOS)
    through round 3, ``timestamp[us]`` from round 4), and hard-coding
    either assumption broke every events-touching plan for a round. We
    read first, then branch on the *actual* resolved type of ``ts``:

    - ``TIMESTAMP_NTZ`` (parquet us/ms with isAdjustedToUTC=false):
      use it directly; derive ``ts_ns`` with field-extraction
      arithmetic (``_MICROS_FROM_NTZ`` — never consults the session
      timezone, DST gaps included).
    - ``TIMESTAMP`` (LTZ; isAdjustedToUTC=true): the value is a real
      instant, so ``unix_micros`` is exact and tz-independent; rebuild
      ``ts`` as the UTC wall time in NTZ.
    - ``LongType`` (a session already running with
      ``spark.sql.legacy.parquet.nanosAsLong``): epoch-nanos path.
    - read fails with PARQUET_TYPE_ILLEGAL (legacy TIMESTAMP(NANOS)
      fixture): flip ``nanosAsLong`` for the read, then the nanos path.

    All branches land on the same contract — ``ts`` TIMESTAMP_NTZ at µs
    precision, ``ts_ns`` BIGINT epoch nanos — so downstream plans are
    fixture-regeneration-proof.
    """
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    try:
        raw = spark.read.parquet(path_of(sf_dir, "events"))
    except Exception:
        return _events_from_nanos_parquet(spark, sf_dir)

    dt = raw.schema["ts"].dataType
    if isinstance(dt, TimestampNTZType):
        return raw.withColumn(
            "ts_ns", F.expr(_MICROS_FROM_NTZ.format(ts="ts") + " * 1000")
        ).select(*_EVENT_COLS)
    if isinstance(dt, TimestampType):
        return (
            raw.withColumn("ts_ns", F.expr("unix_micros(ts) * 1000"))
            .withColumn("ts", F.expr(_NTZ_FROM_MICROS.format(us="ts_ns div 1000")))
            .select(*_EVENT_COLS)
        )
    if isinstance(dt, LongType):
        return _events_rebuild_from_ns(raw)
    raise TypeError(f"events.ts has unsupported type {dt}")


def _events_from_nanos_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy fixture path: parquet TIMESTAMP(NANOS), which Spark's
    reader rejects outright (PARQUET_TYPE_ILLEGAL) unless
    ``nanosAsLong`` maps it to epoch-nanos LongType. The conf is
    consulted at frame-build (schema resolution) time and captured into
    the plan, so it can be restored immediately — later parquet reads on
    the shared session see the caller's original behavior.
    """
    with conf_scope(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        raw = spark.read.parquet(path_of(sf_dir, "events"))
    return _events_rebuild_from_ns(raw)


def _events_rebuild_from_ns(raw: DataFrame) -> DataFrame:
    """epoch-nanos LongType ``ts`` -> (ts NTZ, ts_ns). µs-precision
    values make ``div 1000`` lossless."""
    return (
        raw.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", F.expr(_NTZ_FROM_MICROS.format(us="ts_ns div 1000")))
        .select(*_EVENT_COLS)
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def local_table(
    spark: SparkSession, rows: list[tuple], cols: list[tuple[str, str]]
) -> DataFrame:
    """Small literal table as a pure JVM plan: explode of struct
    literals over :func:`_one_row`. ``createDataFrame(python_list)``
    is RDD-backed and pays a Python-worker round trip on EVERY action
    (measured ~4 s/action at local[32] — it made fn_format_string, a
    6-row parameter grid, the 4th-slowest query in the whole bench);
    literal expressions cost milliseconds. Use for parameter grids and
    tiny dimension tables in query paths.

    ``cols``: (name, spark_type) pairs, positionally matching each row.
    """
    if not rows:
        # explode of a zero-element array has no element type to star-
        # expand; build the empty frame from typed NULL literals instead
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for (n, t) in cols]
        )
    structs = [
        F.struct(*[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(row, cols)])
        for row in rows
    ]
    return (
        _one_row(spark)
        .select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
    )


def _one_row(spark: SparkSession) -> DataFrame:
    """``range(0, 1)`` in ONE partition. ``spark.range(1)`` takes the
    default parallelism, so a sort or aggregate over a literal table
    planned an exchange: a range-sampling job plus a shuffle to order
    three rows. A single-partition plan needs none."""
    return spark.range(0, 1, 1, 1)


def local_row(spark: SparkSession, *cols: tuple[str, object, str]) -> DataFrame:
    """One-row DataFrame of literals over :func:`_one_row` — a pure
    JVM plan. `spark.createDataFrame([python_tuple])` is
    RDD-backed and pays a Python-worker round trip on EVERY action
    (measured ~4 s/action at local[32] for a 72-row frame); literal
    expressions cost milliseconds. Use for self-certifying result rows.

    Each col is (name, value, spark_type); None values yield typed
    NULLs.
    """
    return _one_row(spark).select(
        *[F.lit(v).cast(t).alias(n) for (n, v, t) in cols]
    )


def collect_aggs(*aggs: DataFrame) -> list[Row]:
    """The one row of each single-row aggregate in ``aggs``, collected
    in ONE Spark action: the aggregates are unioned under a tag column,
    so AQE runs their map stages at the same time instead of one action
    after another. Only for reads of one point in a query's timeline; a
    read taken before a write must stay its own action."""
    from functools import reduce

    tagged = [a.select(F.lit(i).alias("_agg"), "*") for i, a in enumerate(aggs)]
    union = reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True), tagged)
    by_tag = {r["_agg"]: r for r in union.collect()}
    return [
        Row(**{c: by_tag[i][c] for c in a.columns}) for i, a in enumerate(aggs)
    ]
