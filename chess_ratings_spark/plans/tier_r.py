"""Tier R queries — the reference's own operation surface
(SURVEY.md §2.1-§2.3, §2.7, §2.10), oracle-checked.

The driver's DuckDB only knows the star-schema views, so these queries
derive a raw FIDE-shaped frame from customer⋈nation with expressions
written identically on both sides (pure per-row integer/string ops —
bit-exact across engines), then run the REAL engine operators
(chess_ratings_spark.ingest / operators.validate) on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chess_ratings_spark import ingest, staging, tables
from chess_ratings_spark.functions import scalar
from chess_ratings_spark.operators import validate
from chess_ratings_spark.registry import register

# Shared raw-FIDE derivation. ~1 in 19 rows gets an invalid federation,
# ~1 in 3 a NULL sex, ~1 in 10 the birthday=0 sentinel — so every
# downstream transform/constraint has work to do.
_RAW_EXPRS = [
    "c_custkey AS fideid",
    "c_name AS name",
    "CASE WHEN c_custkey % 19 = 0 THEN 'X1' ELSE upper(substr(n_name, 1, 3)) END AS country",
    "CASE WHEN c_custkey % 3 = 0 THEN 'F' WHEN c_custkey % 3 = 1 THEN 'M' END AS sex",
    "CAST(floor(c_acctbal) AS BIGINT) + 1000 AS rating",
    "CAST(c_custkey % 40 AS BIGINT) AS games",
    "CAST(CASE WHEN c_custkey % 2 = 0 THEN 20 ELSE 40 END AS BIGINT) AS k",
    "CAST(CASE WHEN c_custkey % 10 = 0 THEN 0 ELSE 1950 + c_custkey % 60 END AS BIGINT) AS birthday",
    "CASE WHEN c_custkey % 7 = 0 THEN 'i' END AS flag",
]

_RAW_SQL = f"""
  SELECT {', '.join(_RAW_EXPRS)}
  FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


def _raw_fide(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load(spark, sf_dir, "customer")
    n = tables.load(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).selectExpr(*_RAW_EXPRS)


# ---------------------------------------------------------------------------
# Projections (§2.2)
# ---------------------------------------------------------------------------


@register(
    "proj_rename",
    oracle=f"""
    SELECT fideid AS fide_id, name AS player_name, country AS fide_federation,
           games AS game_count, birthday AS birth_year, rating
    FROM ({_RAW_SQL})
    """,
    doc="Bulk canonical rename (ingest_web_to_gcs.py:107-115) via "
    "withColumnsRenamed — a pure projection node, fused into the scan.",
    tags=("tier-r",),
)
def proj_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ingest.rename_raw(_raw_fide(spark, sf_dir))
    return out.select(
        "fide_id", "player_name", "fide_federation", "game_count", "birth_year", "rating"
    )


@register(
    "proj_add_missing",
    oracle=f"""
    SELECT fideid, CAST(NULL AS VARCHAR) AS title, CAST(NULL AS VARCHAR) AS w_title,
           CAST(NULL AS VARCHAR) AS o_title, CAST(NULL AS VARCHAR) AS foa_title,
           flag,
           CAST(count(*) OVER () AS BIGINT) AS n_total
    FROM ({_RAW_SQL})
    """,
    doc="Typed-NULL backfill of declared-but-absent columns "
    "(ingest_web_to_gcs.py:26-37; foa_title missing pre-2017). `flag` "
    "already exists so it must NOT be overwritten.",
    tags=("tier-r",),
)
def proj_add_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _raw_fide(spark, sf_dir)
    out = ingest.normalize_schema(raw)
    from pyspark.sql import Window

    return out.select(
        "fideid",
        "title",
        "w_title",
        "o_title",
        "foa_title",
        "flag",
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_total"),
    )


@register(
    "proj_lit",
    oracle=f"""
    SELECT fideid, CAST(2024 AS INT) AS period_year, CAST(3 AS INT) AS period_month,
           'standard' AS game_format
    FROM ({_RAW_SQL})
    """,
    doc="Constant provenance columns (ingest_web_to_gcs.py:122-123) + the "
    "game_format partition dim.",
    tags=("tier-r",),
)
def proj_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ingest.stamp_period(_raw_fide(spark, sf_dir), 2024, 3, "standard")
    return out.select("fideid", "period_year", "period_month", "game_format")


@register(
    "select_project",
    oracle="SELECT l_orderkey, l_shipdate FROM lineitem WHERE l_returnflag = 'R'",
    doc="Explicit column pruning: the scan's ReadSchema carries exactly "
    "two of eleven columns and the filter is in PushedFilters.",
    tags=("tier-r",),
)
def select_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_shipdate")


@register(
    "filter_pred",
    oracle=f"""
    SELECT fideid, birthday, rating
    FROM ({_RAW_SQL})
    WHERE birthday BETWEEN 1950 AND 1979 AND rating >= 1000 AND sex IS NOT NULL
    """,
    doc="Range/membership/null predicates (the reference's guard checks "
    "utils/dates.py:33-50 as row filters).",
    tags=("tier-r",),
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _raw_fide(spark, sf_dir)
    return raw.filter(
        F.col("birthday").between(1950, 1979)
        & (F.col("rating") >= 1000)
        & F.col("sex").isNotNull()
    ).select("fideid", "birthday", "rating")


# ---------------------------------------------------------------------------
# Scalar functions (§2.3)
# ---------------------------------------------------------------------------


@register(
    "fn_recode_map",
    oracle=f"""
    SELECT fideid,
           CAST(CASE WHEN sex = 'F' THEN 0 WHEN sex = 'M' THEN 1 END AS TINYINT) AS sex_code,
           CASE WHEN birthday = 0 THEN NULL ELSE birthday END AS birth_year
    FROM ({_RAW_SQL})
    """,
    doc="Dictionary recode F/M→0/1 tinyint + sentinel 0→NULL "
    "(ingest_web_to_gcs.py:118-120), as CASE WHEN / nullif.",
    tags=("tier-r",),
)
def fn_recode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _raw_fide(spark, sf_dir)
    return raw.select(
        "fideid",
        scalar.recode_map("sex", ingest.SEX_CODES).alias("sex_code"),
        scalar.sentinel_to_null("birthday", 0).alias("birth_year"),
    )


@register(
    "fn_month_code",
    oracle="""
    SELECT m AS period_month,
           (['jan','feb','mar','apr','may','jun','jul','aug','sep','oct','nov','dec'])[m]
             AS month_code
    FROM (SELECT unnest(range(1, 13)) AS m)
    """,
    doc="Numeric month → 3-letter code via array-literal lookup "
    "(utils/dates.py:7-24).",
    tags=("tier-r",),
)
def fn_month_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    months = spark.range(1, 13).select(F.col("id").alias("period_month"))
    return months.select(
        "period_month", scalar.month_code("period_month").alias("month_code")
    )


@register(
    "fn_format_string",
    oracle="""
    SELECT f.game_format, m.y AS period_year, m.m AS period_month,
           f.game_format || '_' ||
             (['jan','feb','mar','apr','may','jun','jul','aug','sep','oct','nov','dec'])[m.m] ||
             right(CAST(m.y AS VARCHAR), 2) || 'frl_xml' AS file_name
    FROM (SELECT unnest(['standard','rapid','blitz']) AS game_format) f
    CROSS JOIN (SELECT unnest([2023, 2024]) AS y, unnest([9, 10]) AS m) m
    """,
    doc="String building from parts incl. two-digit year "
    "(ingest_web_to_gcs.py:55-57 file naming).",
    tags=("tier-r",),
)
def fn_format_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    params = tables.local_table(
        spark,
        [(f, y, m) for f in ("standard", "rapid", "blitz") for y, m in ((2023, 9), (2024, 10))],
        [("game_format", "string"), ("period_year", "int"), ("period_month", "int")],
    )
    return params.select(
        "game_format",
        "period_year",
        "period_month",
        scalar.ratings_file_name(
            F.col("game_format"), F.col("period_year"), F.col("period_month")
        ).alias("file_name"),
    )


@register(
    "src_url_gen",
    oracle="""
    SELECT f.game_format, m.y AS period_year, m.m AS period_month,
           'https://ratings.fide.com/download/' || f.game_format || '_' ||
             (['jan','feb','mar','apr','may','jun','jul','aug','sep','oct','nov','dec'])[m.m] ||
             right(CAST(m.y AS VARCHAR), 2) || 'frl_xml.zip' AS url
    FROM (SELECT unnest(['standard','rapid','blitz']) AS game_format) f
    CROSS JOIN (
      SELECT CAST(year(d) AS INT) AS y, CAST(month(d) AS INT) AS m
      FROM (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-04-01',
                                          INTERVAL 1 MONTH)) AS d)
    ) m
    """,
    doc="Deterministic per-(format,period) source URL "
    "(ingest_web_to_gcs.py:40-52) over the backfill parameter frame.",
    tags=("tier-r", "scan"),
)
def src_url_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    formats = tables.local_table(
        spark,
        [("standard",), ("rapid",), ("blitz",)],
        [("game_format", "string")],
    )
    months = (
        spark.range(1)
        .select(
            F.explode(
                scalar.month_range(
                    F.lit("2024-01-01").cast("date"), F.lit("2024-04-01").cast("date")
                )
            ).alias("d")
        )
        .select(
            F.year("d").cast("int").alias("period_year"),
            F.month("d").cast("int").alias("period_month"),
        )
    )
    return formats.crossJoin(months).select(
        "game_format",
        "period_year",
        "period_month",
        scalar.ratings_url(
            F.col("game_format"), F.col("period_year"), F.col("period_month")
        ).alias("url"),
    )


@register(
    "fn_regex_match",
    oracle=f"""
    SELECT country AS fide_federation,
           regexp_full_match(country, '(?i)[A-Z]{{3}}') AS is_valid,
           CAST(count(*) AS BIGINT) AS n
    FROM ({_RAW_SQL})
    GROUP BY 1, 2
    """,
    doc="Anchored federation-code regex (chess_ratings_data_model.py:14; "
    "patito fullmatches, hence rlike('^...$')).",
    tags=("tier-r",),
)
def fn_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _raw_fide(spark, sf_dir)
    return (
        raw.select(
            F.col("country").alias("fide_federation"),
            scalar.federation_valid("country").alias("is_valid"),
        )
        .groupBy("fide_federation", "is_valid")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "fn_date_range",
    oracle="""
    SELECT CAST(year(d) AS INT) AS period_year, CAST(month(d) AS INT) AS period_month
    FROM (
      SELECT unnest(generate_series(
        date_trunc('month', (SELECT min(o_orderdate) FROM orders)),
        date_trunc('month', (SELECT max(o_orderdate) FROM orders)),
        INTERVAL 1 MONTH)) AS d
    )
    """,
    doc="Month-start sequence between two dates (utils/dates.py:27-30's "
    "pl.date_range) — sequence() + explode over the orders span.",
    tags=("tier-r",),
)
def fn_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_orderdate").cast("date").alias("lo"), F.max("o_orderdate").cast("date").alias("hi")
    )
    return (
        bounds.select(F.explode(scalar.month_range(F.col("lo"), F.col("hi"))).alias("d"))
        .select(
            F.year("d").cast("int").alias("period_year"),
            F.month("d").cast("int").alias("period_month"),
        )
    )


@register(
    "fn_cast_datetime_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(quarter(o_orderdate) AS INT) AS order_quarter,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1, 2, 3
    """,
    doc="Datetime part extraction on TIMESTAMP_NTZ — session-timezone "
    "independent by type (the reference's cast-then-year at "
    "ingest_web_to_gcs.py:118, minus its epoch-reinterpretation bug).",
    tags=("tier-r",),
)
def fn_cast_datetime_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "fn_json_get",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    doc="Scalar extraction from a JSON-string column (events.props) via "
    "get_json_object — no full from_json parse when one path suffices.",
    tags=("scalar", "events"),
)
def fn_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    from chess_ratings_spark.operators.aggregates import money

    return (
        ev.select(scalar.json_get("props", "k").cast("bigint").alias("k_value"), "value")
        .groupBy("k_value")
        .agg(F.count(F.lit(1)).alias("n"), money(F.sum("value")).alias("total_value"))
    )


@register(
    "fn_array_ops",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(len(embedding)) AS INT) AS min_dim,
           CAST(max(len(embedding)) AS INT) AS max_dim,
           round(sum(CAST(embedding[1] AS DOUBLE)), 6) AS sum_first,
           round(sum(CAST(embedding[64] AS DOUBLE)), 6) AS sum_last
    FROM embeddings GROUP BY label
    """,
    doc="Array column ops on embeddings: size, 1-based element access, "
    "per-label aggregation of components.",
    tags=("scalar", "embeddings"),
)
def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(F.size("embedding")).cast("int").alias("min_dim"),
        F.max(F.size("embedding")).cast("int").alias("max_dim"),
        F.round(F.sum(F.element_at("embedding", 1).cast("double")), 6).alias("sum_first"),
        F.round(F.sum(F.element_at("embedding", 64).cast("double")), 6).alias("sum_last"),
    )


@register(
    "fn_math_std",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           abs(l_extendedprice - l_quantity * 1000.0) AS price_gap,
           sqrt(l_quantity) AS qty_root,
           l_discount * l_discount AS disc_sq
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
    doc="Per-row arithmetic (revenue formula, abs, sqrt, square). "
    "Unrounded on purpose: per-row IEEE ops are bit-exact across "
    "engines (sqrt is correctly-rounded by spec; pow is not — use x*x).",
    tags=("scalar",),
)
def fn_math_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.filter(F.col("l_orderkey") % 100 == 0).select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charged"),
        F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000.0).alias("price_gap"),
        F.sqrt("l_quantity").alias("qty_root"),
        (F.col("l_discount") * F.col("l_discount")).alias("disc_sq"),
    )


# ---------------------------------------------------------------------------
# Validation (§2.7) + full pipeline
# ---------------------------------------------------------------------------

def _preprocessed_sql(year: int, month: int, game_format: str) -> str:
    """The preprocess pipeline as DuckDB SQL, parameterized by the
    period stamp so multi-month oracles (partitioned sink, backfill)
    can reuse it."""
    return f"""
  SELECT fideid AS fide_id, name AS player_name, country AS fide_federation,
         CAST(CASE WHEN sex = 'F' THEN 0 WHEN sex = 'M' THEN 1 END AS TINYINT) AS sex,
         CAST(NULL AS VARCHAR) AS title, CAST(NULL AS VARCHAR) AS w_title,
         CAST(NULL AS VARCHAR) AS o_title, CAST(NULL AS VARCHAR) AS foa_title,
         rating, games AS game_count, k,
         CAST(CASE WHEN birthday = 0 THEN NULL ELSE birthday END AS INT) AS birth_year,
         flag,
         CAST({year} AS INT) AS period_year, CAST({month} AS INT) AS period_month,
         '{game_format}' AS game_format
  FROM ({_RAW_SQL})
"""


_PREPROCESSED_SQL = _preprocessed_sql(2024, 6, "standard")


@register(
    "tier_r_preprocess",
    oracle=_PREPROCESSED_SQL,
    doc="The reference's whole preprocess_ratings_data pipeline "
    "(ingest_web_to_gcs.py:98-127): rename → typed-NULL backfill → "
    "recodes → period stamp, composed as one Catalyst plan.",
    tags=("tier-r",),
)
def tier_r_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _raw_fide(spark, sf_dir)
    return ingest.preprocess(raw, 2024, 6, "standard")


@register(
    "val_constraints",
    oracle=f"""
    WITH p AS ({_PREPROCESSED_SQL})
    SELECT * FROM (
      SELECT 'fide_id_not_null' AS constraint, CAST(sum(CASE WHEN fide_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM p
      UNION ALL SELECT 'federation_pattern', CAST(sum(CASE WHEN fide_federation IS NOT NULL AND NOT regexp_full_match(fide_federation, '(?i)[A-Z]{{3}}') THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'sex_domain', CAST(sum(CASE WHEN sex IS NOT NULL AND sex NOT IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'rating_not_null', CAST(sum(CASE WHEN rating IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'game_count_not_null', CAST(sum(CASE WHEN game_count IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'k_not_null', CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'birth_year_range', CAST(sum(CASE WHEN birth_year IS NOT NULL AND birth_year NOT BETWEEN 1900 AND 2026 THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'period_year_not_null', CAST(sum(CASE WHEN period_year IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'period_year_range', CAST(sum(CASE WHEN period_year IS NOT NULL AND period_year NOT BETWEEN 2000 AND 2026 THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'period_month_not_null', CAST(sum(CASE WHEN period_month IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM p
      UNION ALL SELECT 'period_month_range', CAST(sum(CASE WHEN period_month IS NOT NULL AND period_month NOT BETWEEN 1 AND 12 THEN 1 ELSE 0 END) AS BIGINT) FROM p
    )
    """,
    doc="The patito model's constraint set (chess_ratings_data_model.py:"
    "12-31) COMPILED from the declarative FideRatings model "
    "(models.py — fields declare dtype/nullable/unique/regex/domain/"
    "bounds once; datamodel.py turns them into predicates) into ONE "
    "aggregation pass returning a violations report — constraint count "
    "does not multiply scan count. Required period fields now also get "
    "not-null rows, which the hand-rolled predecessor omitted.",
    tags=("tier-r", "validation"),
)
def val_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.models import FideRatings

    pre = ingest.preprocess(_raw_fide(spark, sf_dir), 2024, 6, "standard")
    return FideRatings.validate(pre)


# ---------------------------------------------------------------------------
# Sinks + listing (§2.1) and the XML source
# ---------------------------------------------------------------------------


@register(
    "sink_parquet_partitioned",
    oracle=f"""
    WITH p AS (
      {_preprocessed_sql(2024, 6, "standard")}
      UNION ALL
      {_preprocessed_sql(2024, 7, "rapid")}
    )
    SELECT game_format, period_year, period_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(fide_id) AS BIGINT) AS sum_fide_id,
           CAST(sum(rating) AS BIGINT) AS sum_rating,
           CAST(sum(CASE WHEN sex IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_sex
    FROM p GROUP BY 1, 2, 3
    """,
    doc="Partitioned parquet sink with idempotent re-run semantics "
    "(mode='ignore' ≡ the reference's skip-if-exists at "
    "ingest_web_to_gcs.py:189-193). Writes twice, re-reads the table "
    "from disk, and summarizes CONTENT per partition — the oracle "
    "recomputes the same summary from the logical input, so a "
    "non-idempotent second write (doubled rows), a lost partition, or "
    "a value corrupted in the parquet round trip all hash-mismatch.",
    tags=("tier-r", "sink"),
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.sources import io as cio

    pre = ingest.preprocess(_raw_fide(spark, sf_dir), 2024, 6, "standard")
    two_months = pre.unionByName(
        ingest.preprocess(_raw_fide(spark, sf_dir), 2024, 7, "rapid")
    )
    out = staging.new_dir("crs_sink_") + "/fide_ratings"
    cio.sink_parquet_partitioned(two_months, out, mode="overwrite")
    cio.sink_parquet_partitioned(two_months, out, mode="ignore")  # idempotent no-op
    back = cio.scan_parquet(spark, out)
    return back.groupBy("game_format", "period_year", "period_month").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("fide_id").alias("sum_fide_id"),
        F.sum("rating").alias("sum_rating"),
        F.sum(F.when(F.col("sex").isNull(), 1).otherwise(0)).alias("n_null_sex"),
    )


@register(
    "src_http_zip_xml",
    oracle="""
    SELECT CAST(i AS BIGINT) AS fide_id,
           'Player ' || i AS player_name,
           CASE WHEN i % 2 = 1 THEN 'USA' ELSE 'GER' END AS fide_federation,
           CAST(CASE WHEN i % 3 = 0 THEN 0 ELSE 1 END AS TINYINT) AS sex,
           CAST(2000 + i AS BIGINT) AS rating,
           CAST(i % 30 AS BIGINT) AS game_count,
           CAST(20 AS BIGINT) AS k,
           CAST(CASE WHEN i % 10 = 0 THEN NULL ELSE 1960 + i % 40 END AS INT)
             AS birth_year,
           CASE WHEN i % 5 = 0 THEN 'i' ELSE NULL END AS flag,
           CAST(NULL AS VARCHAR) AS title, CAST(NULL AS VARCHAR) AS w_title,
           CAST(NULL AS VARCHAR) AS o_title, CAST(NULL AS VARCHAR) AS foa_title,
           CAST(2024 AS INT) AS period_year, CAST(6 AS INT) AS period_month,
           'standard' AS game_format
    FROM generate_series(1, 100) AS t(i)
    """,
    doc="The web source path (ingest_web_to_gcs.py:61-95) through the "
    "registered Spark 4 Python DataSource (sources/http_xml.py::"
    "FideWebDataSource): spark.read.format('fide_web_xml') with one "
    "input partition per (format, month) — partition-native fetch "
    "parallelism — unzip → pd.read_xml → Arrow batch per task → full "
    "preprocess. Offline here via the stub_zip_b64 seam (deterministic "
    "in-memory zip+XML bytes); network fetch() is the only unexercised "
    "stage (no egress). The oracle regenerates the synthetic player "
    "grid in SQL and applies the preprocess semantics (sex recode, "
    "0→NULL birth year, empty-string→NULL flag, typed NULL title "
    "backfill, period stamp) — every row of the XML round trip is "
    "value-checked, not just counted.",
    tags=("tier-r", "scan"),
)
def src_http_zip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    import base64
    import io as _io
    import zipfile

    from chess_ratings_spark.sources import http_xml

    players = "".join(
        f"<player><fideid>{i}</fideid><name>Player {i}</name>"
        f"<country>{'USA' if i % 2 else 'GER'}</country>"
        f"<sex>{'M' if i % 3 else 'F'}</sex>"
        f"<rating>{2000 + i}</rating><games>{i % 30}</games><k>20</k>"
        f"<birthday>{0 if i % 10 == 0 else 1960 + i % 40}</birthday>"
        f"<flag>{'i' if i % 5 == 0 else ''}</flag></player>"
        for i in range(1, 101)
    )
    xml = f"<playerslist>{players}</playerslist>".encode()
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("standard_jun24frl_xml.xml", xml)
    http_xml.register_web_source(spark)
    raw = (
        spark.read.format("fide_web_xml")
        .option("formats", "standard")
        .option("months", "2024-06")
        .option("stub_zip_b64", base64.b64encode(buf.getvalue()).decode())
        .load()
    )
    return ingest.preprocess(
        raw.drop("period_year", "period_month", "game_format"), 2024, 6, "standard"
    )


@register(
    "fn_url_parse",
    oracle="""
    WITH months(m, code) AS (
      VALUES (1,'jan'),(2,'feb'),(3,'mar'),(4,'apr'),(5,'may'),(6,'jun'),
             (7,'jul'),(8,'aug'),(9,'sep'),(10,'oct'),(11,'nov'),(12,'dec')
    ), urls AS (
      SELECT g || '_' || CAST(y AS VARCHAR) || '_' || CAST(m AS VARCHAR) AS url_id,
             'https://ratings.fide.com/download/' || g || '_' || code
               || substr(CAST(y AS VARCHAR), 3, 2) || 'frl_xml.zip' AS url
      FROM (SELECT unnest(['standard','rapid','blitz']) AS g),
           (SELECT unnest([2023, 2024]) AS y), months
    )
    SELECT url_id,
           regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
           regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1) AS path,
           regexp_extract(url, '/([a-z]+)_[a-z]{3}[0-9]{2}frl', 1) AS game_format
    FROM urls ORDER BY url_id
    """,
    doc="URL parsing over the generated FIDE download URLs "
    "(ingest_web_to_gcs.py:40-57 naming scheme): scheme / host / path "
    "/ embedded game-format extracted with anchored regexes — the "
    "same expressions both engines (Spark parse_url is Hive-specific; "
    "regexp_extract semantics are shared). Inputs are the full "
    "format×year×month URL grid from the reference's parameter "
    "enumeration.",
    tags=("fn", "tier_r"),
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 72-row parameter grid is a SQL VALUES literal — a pure JVM
    # LocalTableScan. Python-list createDataFrame is RDD-backed and
    # pays a Python-worker round trip per action (measured ~4 s/action
    # at local[32]); chained crossJoins of such frames measured 12-23 s.
    # Parameter grids are driver data, not distributed joins
    # (join_cross_params demos the join form).
    import itertools

    vals = ", ".join(
        f"('{g}', {y}, {m})"
        for g, y, m in itertools.product(
            ("standard", "rapid", "blitz"), (2023, 2024), range(1, 13)
        )
    )
    urls = (
        spark.sql(f"SELECT * FROM VALUES {vals} AS t(g, y, m)")
        .select(
            F.concat_ws("_", "g", F.col("y").cast("string"), F.col("m").cast("string")).alias(
                "url_id"
            ),
            scalar.ratings_url(F.col("g"), F.col("y"), F.col("m")).alias("url"),
        )
    )
    return urls.select(
        "url_id",
        F.regexp_extract("url", r"^([a-z]+)://", 1).alias("scheme"),
        F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1).alias("host"),
        F.regexp_extract("url", r"^[a-z]+://[^/]+(/.*)$", 1).alias("path"),
        F.regexp_extract("url", r"/([a-z]+)_[a-z]{3}[0-9]{2}frl", 1).alias("game_format"),
    ).orderBy("url_id")


@register(
    "fn_edit_distance",
    oracle="""
    SELECT levenshtein(a.c_name, b.c_name) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
    GROUP BY dist ORDER BY dist
    """,
    doc="Edit-distance (Levenshtein) histogram over adjacent-key "
    "customer-name pairs — the fuzzy-key-matching primitive for "
    "entity resolution; identical DP semantics in both engines. The "
    "adjacent-key self-join is a co-partitioned equi-join (shift, "
    "not cross).",
    tags=("fn",),
)
def fn_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load(spark, sf_dir, "customer")
    a = c.select(F.col("c_custkey").alias("k"), F.col("c_name").alias("name_a"))
    b = c.select((F.col("c_custkey") - 1).alias("k"), F.col("c_name").alias("name_b"))
    return (
        a.join(b, "k")
        .select(F.levenshtein("name_a", "name_b").alias("dist"))
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("dist")
    )
