"""Source-format breadth: CSV / JSON / ORC round-trips.

Each query writes a fixture slice in the target format, reads it back
with a DECLARED schema (inference in production pipelines is how the
reference got its foa_title drift — see sources/http_xml.py), and
aggregates. The oracle aggregates the ORIGINAL parquet, so a
hash-match proves byte-level format fidelity end-to-end, including the
TIMESTAMP_NTZ pitfalls each text format has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chess_ratings_spark import staging, tables
from chess_ratings_spark.operators.aggregates import money
from chess_ratings_spark.registry import register

_AGG_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total,
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_order
    FROM orders GROUP BY o_orderstatus
"""


def _orders_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum("o_totalprice")).alias("total"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("first_order"),
    )


_SCHEMA = (
    "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
    " o_orderdate timestamp_ntz"
)


@register(
    "src_csv_roundtrip",
    oracle=_AGG_ORACLE,
    doc="CSV sink+source round-trip with declared schema; hash-match "
    "against the original parquet proves header/quote/timestamp "
    "fidelity (timestampNTZFormat pinned — CSV has no type system).",
    tags=("scan", "sink", "formats"),
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = staging.new_dir("crs_csv_") + "/orders"
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    _orders_slice(spark, sf_dir).write.mode("overwrite").option("header", True).option(
        "timestampNTZFormat", fmt
    ).csv(path)
    back = (
        spark.read.schema(_SCHEMA)
        .option("header", True)
        .option("timestampNTZFormat", fmt)
        .csv(path)
    )
    return _agg(back)


@register(
    "src_json_roundtrip",
    oracle=_AGG_ORACLE,
    doc="JSON-lines sink+source round-trip with declared schema "
    "(no inference) — same oracle as CSV: format-independent results.",
    tags=("scan", "sink", "formats"),
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = staging.new_dir("crs_json_") + "/orders"
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    _orders_slice(spark, sf_dir).write.mode("overwrite").option(
        "timestampNTZFormat", fmt
    ).json(path)
    back = spark.read.schema(_SCHEMA).option("timestampNTZFormat", fmt).json(path)
    return _agg(back)


@register(
    "src_orc_roundtrip",
    oracle=_AGG_ORACLE,
    doc="ORC sink+source round-trip — the other columnar format, "
    "vectorized reader, same oracle.",
    tags=("scan", "sink", "formats"),
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = staging.new_dir("crs_orc_") + "/orders"
    _orders_slice(spark, sf_dir).write.mode("overwrite").orc(path)
    return _agg(spark.read.orc(path))


@register(
    "src_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) + 1 AS BIGINT) AS n_bytes,
           md5(text || chr(10)) AS content_md5
    FROM documents
    WHERE doc_id % 101 = 0
    ORDER BY doc_id
    """,
    doc="binaryFile source — the opaque-blob ingestion path every "
    "multimodal pipeline starts from: a deterministic document subset "
    "is landed one blob per asset (write.partitionBy(doc_id), exactly "
    "one row per partition value, so each directory holds exactly one "
    "file and no intra-file row-order dependence exists), then read "
    "back with format('binaryFile'), keyed by the path (regexp on the "
    "partition directory, the asset-id-in-path convention), with "
    "byte length and content md5 as the typed metadata. The oracle "
    "recomputes both from the source text (strlen counts UTF-8 "
    "bytes exactly as the blob stores them; the +1/chr(10) is the "
    "text writer's record terminator), so a hash-match proves the "
    "blob round-trip is byte-exact. At 100 TB this is the pattern for "
    "image/audio shards: binaryFile gives (path, mtime, length, "
    "content) rows partition-parallel across files, and the decode "
    "step (extras.py mm_* operators) runs downstream as Arrow-batched "
    "mapInPandas.",
    tags=("scan", "formats", "documents", "multimodal"),
)
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = staging.new_dir("crs_binf_") + "/blobs"
    docs = (
        tables.load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 101 == 0)
        .select("doc_id", F.col("text").alias("value"))
    )
    # one row per partition value => one file per directory; repartition
    # spreads the per-asset writes across tasks
    docs.repartition(8, "doc_id").write.mode("overwrite").partitionBy(
        "doc_id"
    ).text(path)
    back = spark.read.format("binaryFile").option(
        "pathGlobFilter", "part-*"
    ).load(path)
    return (
        back.select(
            F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "sink_overwrite_dynamic",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN 2 * CAST(floor(value * 100) AS BIGINT)
                         ELSE CAST(floor(value * 100) AS BIGINT) END)
                AS BIGINT) AS vc_sum
    FROM events GROUP BY event_type
    """,
    doc="Dynamic partition overwrite — the daily re-ingest verb: the "
    "full events table lands partitioned by event_type, then a "
    "CORRECTED 'click' slice (values doubled) is written with "
    "mode('overwrite') + partitionOverwriteMode=dynamic, which must "
    "replace ONLY the click partition and leave the other four "
    "untouched (static overwrite would truncate the whole table — "
    "the career-ending default this option exists to avoid; the "
    "reference's skip-if-exists month logic, ingest_web_to_gcs.py:"
    "189-193, is this exact semantics). The census proves both "
    "properties at once: click's checksum is exactly 2× the "
    "original, every other partition's count and checksum are "
    "byte-identical to the initial landing.",
    tags=("sink", "formats", "events"),
)
def sink_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark import tables as _t

    ev = _t.load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    path = staging.new_dir("crs_dynow_") + "/t"
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    corrected = ev.filter(F.col("event_type") == "click").withColumn(
        "vc", F.col("vc") * 2
    )
    (
        corrected.write.partitionBy("event_type")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc_sum")
    )
