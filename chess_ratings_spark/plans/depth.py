"""Relational depth queries: grouping sets, unpivot, scalar subquery,
value-range window frames, string-function suite, and the composed
backfill pipeline capstone (§2.10 orchestration re-expressed natively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chess_ratings_spark import staging, tables
from chess_ratings_spark.operators.aggregates import money
from chess_ratings_spark.registry import register


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS with a grouping-bit id distinguishing "
    "subtotal levels (Expand + hash agg; NULL-filled slots "
    "disambiguated by gid).",
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum("o_totalprice")).alias("total"),
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("int")
        .alias("gid"),
    )


@register(
    "unpivot_stack",
    oracle="""
    SELECT c_custkey, k, v FROM (
      SELECT c_custkey, round(c_acctbal, 2) AS acctbal,
             CAST(c_nationkey AS DOUBLE) AS nation
      FROM customer
    ) UNPIVOT (v FOR k IN (acctbal, nation))
    """,
    doc="Wide→long unpivot (stack/melt): per-customer metric rows — the "
    "inverse of agg_pivot, a pure projection (no shuffle).",
    tags=("agg",),
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load(spark, sf_dir, "customer")
    wide = c.select(
        "c_custkey",
        money(F.col("c_acctbal")).alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nation"),
    )
    return wide.unpivot("c_custkey", ["acctbal", "nation"], "k", "v")


@register(
    "scalar_subquery",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
    """,
    doc="Scalar subquery predicate (orders above 1.5× the global mean) — "
    "Catalyst plans the subquery once and broadcasts the scalar.",
    tags=("agg", "filter"),
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS total
        FROM orders_v
        WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders_v)
        """
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total,
           CAST(count(*) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 10000.0 PRECEDING AND 10000.0 FOLLOWING
           ) AS BIGINT) AS n_similar_priced
    FROM orders
    """,
    doc="Value-based RANGE window frame: per customer, how many of "
    "their orders are within ±10k of each order's price (rangeBetween, "
    "not rowsBetween — frame bounds are data values).",
    tags=("window",),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load(spark, sf_dir, "orders")
    # PySpark's Window.rangeBetween only takes integer offsets; a
    # double-valued RANGE frame needs the SQL window syntax
    frame = (
        "count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice "
        "RANGE BETWEEN 10000.0 PRECEDING AND 10000.0 FOLLOWING)"
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        money(F.col("o_totalprice")).alias("total"),
        F.expr(frame).cast("bigint").alias("n_similar_priced"),
    )


@register(
    "fn_string_suite",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up,
           lower(c_mktsegment) AS lo,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           replace(c_name, 'Customer#', 'C-') AS replaced,
           substr(c_name, 10, 5) AS mid,
           reverse(c_mktsegment) AS rev,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS joined,
           CAST(length(c_name) AS INT) AS name_len
    FROM customer
    """,
    doc="String-function surface in one projection: case mapping, "
    "padding, replace, substring, reverse, multi-arg concat, length — "
    "all JVM-side, fused into the scan.",
    tags=("scalar",),
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("lo"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("C-")).alias("replaced"),
        F.substring("c_name", 10, 5).alias("mid"),
        F.reverse("c_mktsegment").alias("rev"),
        F.concat_ws("|", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("joined"),
        F.length("c_name").cast("int").alias("name_len"),
    )


def _backfill_oracle() -> str:
    from chess_ratings_spark.plans.tier_r import _preprocessed_sql

    return f"""
    WITH base AS ({_preprocessed_sql(2024, 1, "standard")}),
    months(i, mm) AS (VALUES (0, 1), (1, 2), (2, 3)),
    std AS (
      SELECT base.* REPLACE (rating + 10 * i AS rating,
                             CAST(mm AS INT) AS period_month)
      FROM base, months
    ),
    viol AS (
      SELECT CAST(
          sum(CASE WHEN fide_id IS NULL THEN 1 ELSE 0 END)
        + sum(CASE WHEN rating IS NULL THEN 1 ELSE 0 END)
        + sum(CASE WHEN game_count IS NULL THEN 1 ELSE 0 END)
        + sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
        + sum(CASE WHEN fide_federation IS NOT NULL
                    AND NOT regexp_full_match(fide_federation, '(?i)[A-Z]{{3}}')
               THEN 1 ELSE 0 END)
        + sum(CASE WHEN sex IS NOT NULL AND sex NOT IN (0, 1) THEN 1 ELSE 0 END)
        + sum(CASE WHEN birth_year IS NOT NULL
                    AND birth_year NOT BETWEEN 1900 AND 2026 THEN 1 ELSE 0 END)
        + sum(CASE WHEN period_year NOT BETWEEN 2000 AND 2026 THEN 1 ELSE 0 END)
        + sum(CASE WHEN period_month NOT BETWEEN 1 AND 12 THEN 1 ELSE 0 END)
        AS BIGINT) AS total_violations
      FROM std
    ),
    deltas AS (
      SELECT period_year, period_month,
             CAST(count(*) AS BIGINT) AS n_players,
             round(avg(delta), 2) AS avg_delta
      FROM (
        SELECT period_year, period_month,
               rating - lag(rating) OVER (PARTITION BY fide_id
                                          ORDER BY period_year, period_month)
                 AS delta
        FROM std
      ) GROUP BY 1, 2
    )
    SELECT period_year, period_month, n_players, avg_delta, total_violations
    FROM deltas, viol ORDER BY period_year, period_month
    """


@register(
    "pipeline_backfill",
    oracle=_backfill_oracle(),
    doc="§2.10 capstone: the reference's whole backfill flow "
    "(ingest_web_to_gcs.py:204-232) as ONE Spark job — parameter frame "
    "(formats × months) → per-month synthetic raw XML batches → "
    "preprocess → union → partitioned idempotent sink → re-read with "
    "partition pruning → constraint gate → per-player rating-delta "
    "window. The oracle recomputes the standard-format slice end to "
    "end in SQL (preprocess twin × month drift → constraint census → "
    "lag-delta summary), so a non-idempotent sink, a lost partition, "
    "or a wrong window frame all hash-mismatch.",
    tags=("tier-r", "pipeline"),
)
def pipeline_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark import ingest
    from chess_ratings_spark.operators import validate
    from chess_ratings_spark.plans.tier_r import _raw_fide
    from chess_ratings_spark.sources import io as cio

    # parameter enumeration (fn_date_range × formats), then one batch
    # per work item — here months share the derived raw frame, with a
    # deterministic per-month rating drift so lag analysis has signal
    months = [(2024, 1), (2024, 2), (2024, 3)]
    formats = ["standard", "rapid"]
    # the derived raw frame feeds all 6 (month, format) batches of the
    # backfill union — checkpoint so the XML-derived lineage runs once,
    # not once per batch (guide §3.3)
    raw = _raw_fide(spark, sf_dir).localCheckpoint(eager=True)
    batches = []
    for gf in formats:
        for i, (y, m) in enumerate(months):
            drifted = raw.withColumn("rating", F.col("rating") + F.lit(i * 10))
            batches.append(ingest.preprocess(drifted, y, m, gf))
    lake = batches[0]
    for b in batches[1:]:
        lake = lake.unionByName(b)

    out = staging.new_dir("crs_backfill_") + "/lake"
    cio.sink_parquet_partitioned(lake, out, mode="overwrite")
    cio.sink_parquet_partitioned(lake, out, mode="ignore")  # idempotent re-run

    table = cio.scan_parquet(spark, out)
    # partition-pruned slice + validation gate + window analysis
    std = table.filter(F.col("game_format") == "standard")
    violations = validate.violations_report(
        std, validate.fide_constraints(current_year=2026)
    ).agg(F.sum("violations").alias("total_violations"))
    w = Window.partitionBy("fide_id").orderBy("period_year", "period_month")
    deltas = (
        std.withColumn("delta", F.col("rating") - F.lag("rating").over(w))
        .groupBy("period_year", "period_month")
        .agg(
            F.count(F.lit(1)).alias("n_players"),
            F.round(F.avg("delta"), 2).alias("avg_delta"),
        )
    )
    return deltas.crossJoin(violations).orderBy("period_year", "period_month")


@register(
    "join_full_outer",
    oracle="""
    SELECT coalesce(f.o_custkey, o.o_custkey) AS custkey,
           f.n_f, o.n_o
    FROM (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_f
          FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
    FULL OUTER JOIN
         (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_o
          FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) o
      ON f.o_custkey = o.o_custkey
    """,
    doc="Full outer join of two cohort aggregates — rows survive from "
    "either side with NULL fill (completes §2.4's outer-join row: "
    "left/right/full).",
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.operators.joins import equi_join

    o = tables.load(spark, sf_dir, "orders")
    f = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    op = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    j = equi_join(
        f.withColumnRenamed("o_custkey", "k_f"),
        op.withColumnRenamed("o_custkey", "k_o"),
        on=[F.col("k_f") == F.col("k_o")],
        how="full",
    )
    return j.select(
        F.coalesce("k_f", "k_o").alias("custkey"), "n_f", "n_o"
    )


@register(
    "win_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="first_value / last_value / nth_value navigation — last/nth "
    "need the full-partition frame (the default frame stops at "
    "CURRENT ROW, a classic correctness trap).",
    tags=("window",),
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_order"),
    )


@register(
    "profile_table",
    oracle="""
    SELECT 'o_totalprice' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
           CAST(round(min(o_totalprice), 2) AS VARCHAR) AS min_v,
           CAST(round(max(o_totalprice), 2) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    """,
    doc="Column profiling (the data-quality sidekick of val_constraints):"
    " per-column rows/nulls/distinct/min/max in ONE scan — the "
    "aggregate list is wide, the scan count stays 1.",
    tags=("validation", "agg"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load(spark, sf_dir, "orders")

    def prof(col: str, numeric: bool) -> DataFrame:
        mn = F.round(F.min(col), 2).cast("string") if numeric else F.min(col)
        mx = F.round(F.max(col), 2).cast("string") if numeric else F.max(col)
        return o.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).cast("bigint").alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            mn.alias("min_v"),
            mx.alias("max_v"),
        ).select(F.lit(col).alias("col"), "*")

    return (
        prof("o_totalprice", True)
        .unionByName(prof("o_orderstatus", False))
        .unionByName(prof("o_custkey", True))
    )


@register(
    "funnel_sessionized",
    oracle="""
    WITH sess AS (
      SELECT user_id, ts, event_type,
             sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
      FROM (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
      )
    ), per_session AS (
      SELECT user_id, session_no,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
      FROM sess GROUP BY user_id, session_no
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(saw) AS BIGINT) AS sessions_with_view,
           CAST(sum(CASE WHEN saw = 1 AND bought = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS view_then_buy,
           round(CAST(sum(CASE WHEN saw = 1 AND bought = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / sum(saw), 6) AS conversion
    FROM per_session
    """,
    doc="Sessionized funnel: gaps-and-islands sessionization (lag + "
    "cumulative break-sum) then per-session view→purchase conversion — "
    "the batch shape of product-analytics funnels, one shuffle on "
    "user_id reused by both windows.",
    tags=("window", "events"),
)
def funnel_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    # gap arithmetic on epoch nanos (ts_ns) — NTZ timestamps don't cast
    # to numerics, and integer nanos are exact
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gap_ns = 1800 * 1_000_000_000
    brk = (
        F.when(
            F.lag("ts_ns").over(w).isNull()
            | (F.col("ts_ns") - F.lag("ts_ns").over(w) >= gap_ns),
            1,
        ).otherwise(0)
    )
    sess = ev.select(
        "user_id",
        "event_type",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_no"),
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("saw"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("bought"),
    )
    both = F.when((F.col("saw") == 1) & (F.col("bought") == 1), 1).otherwise(0)
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("saw").cast("bigint").alias("sessions_with_view"),
        F.sum(both).cast("bigint").alias("view_then_buy"),
        F.round(F.sum(both).cast("double") / F.sum("saw"), 6).alias("conversion"),
    )
