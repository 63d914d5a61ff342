"""Lakehouse/maintenance-tier queries beyond the reference's surface:
MERGE upsert, reproducible stratified sampling, and sketch-based
quantiles with in-plan error certification. These are the table- and
split-maintenance verbs a 100 TB training-data pipeline runs daily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chess_ratings_spark import staging, tables
from chess_ratings_spark.operators import maintenance
from chess_ratings_spark.registry import register
from chess_ratings_spark.session import conf_scope


def _mor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )


@staging.per_session
def _mor_base_prestaged(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """The bucketized fixture the four MOR-verb queries land copies of."""
    from chess_ratings_spark.operators.tablelog import TableLog

    return TableLog.bucketize_range(_mor_events(spark, sf_dir), "user_id", 25)


@staging.per_session
def _mor_max_event_id(spark: SparkSession, sf_dir: str) -> int:
    """max(event_id): the base of both MERGE queries' insert keys."""
    ev = _mor_events(spark, sf_dir)
    return int(ev.agg(F.max("event_id").alias("m")).collect()[0]["m"])


@register(
    "merge_upsert",
    oracle="""
    WITH src AS (
      SELECT c_custkey, 'UPSERTED' AS c_mktsegment, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 'NEWROW', 0.0
      FROM customer WHERE c_custkey % 97 = 0
    ), merged AS (
      SELECT CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                  ELSE t.c_mktsegment END AS c_mktsegment,
             CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                  ELSE t.c_acctbal END AS c_acctbal
      FROM (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer) t
      FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM merged GROUP BY c_mktsegment
    """,
    doc="Delta-style MERGE INTO emulated as one full-outer join on the "
    "key (matched rows take source values, unmatched source rows "
    "insert, unmatched target rows persist) — the physical core a "
    "lakehouse MERGE compiles to. Updates bump acctbal +100 and "
    "re-segment every 7th customer; every 97th key inserts as a new "
    "row.",
    tags=("lakehouse", "merge"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("UPSERTED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
    )
    inserts = c.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.lit("NEWROW").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    merged = maintenance.merge_upsert(
        c, updates.unionByName(inserts), key="c_custkey",
        update_cols=["c_mktsegment", "c_acctbal"],
    )
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN b < r THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           round(sum(CASE WHEN b < r THEN o_totalprice END), 2) AS sampled_totalprice
    FROM (
      SELECT o_orderpriority, o_totalprice,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT % 100 AS b,
             CASE o_orderpriority WHEN '1-URGENT' THEN 20
                                  WHEN '2-HIGH' THEN 10
                                  ELSE 5 END AS r
      FROM orders
    ) GROUP BY o_orderpriority
    """,
    doc="Reproducible stratified sampling: md5-prefix hash bucket per "
    "key (bit-identical in Spark AND DuckDB — the oracle recomputes "
    "the exact same membership, proving determinism cross-engine), "
    "per-priority rates 20/10/5%. No RNG, no sampleBy seed/partition "
    "sensitivity: the property that makes 100 TB train/test splits "
    "auditable.",
    tags=("lakehouse", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load(spark, sf_dir, "orders")
    tagged = maintenance.stratified_hash_sample(
        o,
        stratum_col="o_orderpriority",
        key_col="o_orderkey",
        rates_pct={"1-URGENT": 20, "2-HIGH": 10},
        default_pct=5,
    )
    keep = F.col("__bucket") < F.col("__rate")
    return tagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.round(F.sum(F.when(keep, F.col("o_totalprice"))), 2).alias(
            "sampled_totalprice"
        ),
    )


@register(
    "agg_sketch_quantiles",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
             list_sort(list(l_extendedprice)) AS s
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_rows,
           s[CAST(floor(0.5 * (n_rows - 1)) AS BIGINT) + 1] AS exact_p50,
           s[CAST(floor(0.9 * (n_rows - 1)) AS BIGINT) + 1] AS exact_p90,
           s[CAST(floor(0.99 * (n_rows - 1)) AS BIGINT) + 1] AS exact_p99,
           true AS within_bound
    FROM g
    """,
    doc="Sketch-based quantiles (percentile_approx — Spark's "
    "Greenwald-Khanna summary, the KLL-family mergeable-sketch path "
    "that scales to 100 TB with per-partition partial sketches) "
    "CERTIFIED in-plan against exact percentiles: each approx value "
    "must lie within ±2 rank-percent of its target (within_bound, "
    "pinned true by the oracle). The hash-checked exact_p* columns use "
    "DISCRETE selection — a row_number window pick of the "
    "floor(p·(n−1))+1-th value per group (identical float-free index "
    "math both engines; interpolated percentiles differ across engines "
    "by 1 ulp, which flips a rounded cent). The window pick streams "
    "through a per-group sort instead of materializing each group as a "
    "collect_list array in one row, so no single-row group blob at "
    "scale. The interpolated bracket is still used for the bound.",
    tags=("aggregate", "sketch"),
)
def agg_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = tables.load(spark, sf_dir, "lineitem")
    probes = [0.5, 0.9, 0.99]
    lo = {0.5: 0.48, 0.9: 0.88, 0.99: 0.97}
    hi = {0.5: 0.52, 0.9: 0.92, 0.99: 1.0}
    exact_ps = sorted({p for p in probes} | set(lo.values()) | set(hi.values()))
    # Discrete lower-bracket picks via a rank window: select the
    # floor(p·(n−1))+1-th value per group. Ties in l_extendedprice make
    # row_number's ordering within the tie arbitrary, but the VALUE at a
    # given sorted position is deterministic, which is all we read.
    #
    # ONE pass, not two: the sketch/exact aggregation and the discrete
    # window picks used to be separate pipelines over lineitem joined at
    # the end — two scans, two exchanges on the same key, one join. The
    # grouped aggregation now runs ON TOP of the window output: the
    # window already hash-partitioned the data by l_returnflag, so the
    # groupBy reuses that exchange and the whole query is scan → one
    # Exchange → sort+window → hash agg (round 15: 2 Exchange + 1
    # BroadcastHashJoin → 1 Exchange + 0 joins; 2.49 s → 1.55 s
    # min-of-3). percentile_approx sees sorted input instead of scan
    # order — its rank guarantee (±0.01% at accuracy 10k, certified
    # against the ±2-rank-percent bracket below) is order-independent,
    # and the hash-checked columns (n_rows, exact_p*) are exact picks
    # unaffected by order.
    wg = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select("l_returnflag", "l_extendedprice").select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(wg).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_g"),
    )
    pick_exprs = []
    for p in probes:
        at = F.floor(F.lit(p) * (F.col("n_g") - 1)) + 1
        pick_exprs.append(
            F.max(F.when(F.col("rn") == at, F.col("l_extendedprice"))).alias(
                f"exact_p{int(p * 100)}"
            )
        )
    joined = ranked.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(*[F.lit(p) for p in probes]), 10_000
        ).alias("approx"),
        F.expr(
            f"percentile(l_extendedprice, array({','.join(map(str, exact_ps))}))"
        ).alias("exact"),
        F.count(F.lit(1)).alias("n_rows"),
        *pick_exprs,
    )
    cols = [F.col("l_returnflag"), F.col("n_rows")]
    bound = F.lit(True)
    idx = {p: i + 1 for i, p in enumerate(exact_ps)}  # element_at is 1-based
    for j, p in enumerate(probes, start=1):
        a = F.element_at("approx", j)
        lo_v = F.element_at("exact", idx[lo[p]])
        hi_v = F.element_at("exact", idx[hi[p]])
        cols.append(F.col(f"exact_p{int(p * 100)}"))
        bound = bound & (a >= lo_v) & (a <= hi_v)
    cols.append(bound.alias("within_bound"))
    return joined.select(*cols)


@register(
    "compact_small_files",
    oracle="""
    SELECT CAST(64 AS INT) AS files_before,
           CAST(greatest(1, ceil(count(*) / 50000.0)) AS INT) AS files_after,
           CAST(count(*) AS BIGINT) AS n_rows,
           true AS compacted_ok
    FROM events
    """,
    doc="Small-file compaction — the daily-maintenance verb for any "
    "100 TB parquet lake (streaming sinks and fine-grained "
    "partitioning breed kilobyte files whose per-file open/footer "
    "cost dominates scans): write a deliberately over-split copy of "
    "events (64 files), re-write it sized by a target rows-per-file "
    "derived from the actual row count, and return the file census "
    "plus a row-count-preserved flag. Both file counts are "
    "deterministic functions of the row count (repartition(n) with "
    "no empty partitions writes exactly n files), so the oracle "
    "recomputes them from the logical input.",
    tags=("lakehouse", "maintenance", "sink"),
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    import shutil
    from pathlib import Path

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value"
    )
    base = Path(staging.new_dir("crs_compact_"))
    small, big = str(base / "small"), str(base / "big")
    try:
        ev.repartition(64).write.mode("overwrite").parquet(small)
        frag = spark.read.parquet(small)
        n_rows = frag.count()
        files_before = len([f for f in frag.inputFiles() if f.endswith(".parquet")])
        target_rows_per_file = 50_000
        n_out = max(1, math.ceil(n_rows / target_rows_per_file))
        frag.repartition(n_out).write.mode("overwrite").parquet(big)
        compacted = spark.read.parquet(big)
        files_after = len([f for f in compacted.inputFiles() if f.endswith(".parquet")])
        rows_after = compacted.count()
        return tables.local_row(
            spark,
            ("files_before", int(files_before), "int"),
            ("files_after", int(files_after), "int"),
            ("n_rows", int(n_rows), "bigint"),
            ("compacted_ok", bool(rows_after == n_rows and files_after < files_before), "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "sample_bottomk",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rank_hash
    FROM documents
    ORDER BY rank_hash, doc_id LIMIT 50
    """,
    doc="Deterministic uniform sample via bottom-k hash ranking: the k "
    "rows with the smallest md5(key) are a uniform k-sample that is "
    "reproducible across runs, engines, partitionings, and corpus "
    "growth (a superset corpus yields an overlapping sample) — the "
    "distributed-safe replacement for reservoir sampling, and "
    "mergeable: bottom-k of a union is bottom-k of the per-shard "
    "bottom-ks. Executes as a TakeOrdered (per-partition top-k + "
    "driver merge of k×partitions rows), never a global sort.",
    tags=("lakehouse", "sample", "documents"),
)
def sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("rank_hash"))
        .orderBy("rank_hash", "doc_id")
        .limit(50)
    )


@register(
    "lake_time_travel",
    oracle="""
    WITH s AS (
      SELECT user_id % 3 AS m, CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    )
    SELECT CAST(v.v AS INT) AS version,
           CAST((SELECT count(*) FROM s WHERE m <= v.v) AS BIGINT) AS n_rows,
           CAST((SELECT sum(vc) FROM s WHERE m <= v.v) AS BIGINT)
             AS value_centi_sum,
           CAST(4 * (v.v + 1) AS INT) AS n_files
    FROM (VALUES (0), (1), (2)) v(v) ORDER BY version
    """,
    doc="Time travel on the multi-version manifest log "
    "(operators/tablelog.py): three appends (events split by "
    "user_id%3, landed as 4 immutable data files each) produce "
    "versions 0..2; reading AS OF each version resolves that "
    "version's manifest and scans exactly its files. The returned "
    "per-version row count, fixed-point value checksum, and manifest "
    "file count are replayed by the oracle as cumulative predicates "
    "over the logical input — proving each snapshot is exactly the "
    "data committed up to that version, with later appends invisible. "
    "Commits are CAS (exclusive-create) metadata ops; snapshots never "
    "list the directory, so concurrent/crashed writers can't tear a "
    "read. At 100 TB each read stays one pruned parquet scan over the "
    "manifest's files.",
    tags=("lakehouse", "time-travel", "events"),
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_timetravel_")
    try:
        log = TableLog(base)
        for m in (0, 1, 2):
            log.append(ev.filter(F.col("user_id") % 3 == m), n_files=4, tag=f"m{m}")
        # every version is read after the last append: one action
        aggs = tables.collect_aggs(
            *[
                log.snapshot(spark, version=v).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
                )
                for v in (0, 1, 2)
            ]
        )
        out_rows = [
            (v, int(agg["n"]), int(agg["s"]), len(log.read_manifest(v)["files"]))
            for v, agg in enumerate(aggs)
        ]
        return tables.local_table(
            spark,
            out_rows,
            [
                ("version", "int"),
                ("n_rows", "bigint"),
                ("value_centi_sum", "bigint"),
                ("n_files", "int"),
            ],
        ).orderBy("version")
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_optimize_commit",
    oracle="""
    SELECT CAST(24 AS INT) AS files_before,
           CAST(greatest(1, ceil(count(*) / 50000.0)) AS INT) AS files_after,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(4 AS INT) AS n_versions,
           true AS content_preserved,
           true AS time_travel_ok
    FROM events
    """,
    doc="Committed OPTIMIZE on the manifest log: three appends of 8 "
    "files each (24 small files — the streaming-sink pathology) are "
    "compacted by rewriting the live snapshot into "
    "ceil(n/50k-rows) right-sized files and committing the compacted "
    "list as version 3. Superseded files stay on disk, so time travel "
    "to the pre-OPTIMIZE version still resolves (asserted in-plan: "
    "version-2 read returns the same row count through the old 24 "
    "files). content_preserved compares the fixed-point value "
    "checksum + row count across the rewrite; both file counts are "
    "deterministic functions of the row count (repartition(n) on "
    "non-empty data writes exactly n files), so the oracle recomputes "
    "everything from the logical input. This is compact_small_files "
    "upgraded from a bare rewrite to an isolated, versioned commit — "
    "readers see 24 files or the compacted set, never a mix.",
    tags=("lakehouse", "maintenance", "time-travel", "events"),
)
def lake_optimize_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_optimize_")
    try:
        log = TableLog(base)
        for m in (0, 1, 2):
            log.append(ev.filter(F.col("event_id") % 3 == m), n_files=8, tag=f"e{m}")
        v_before = log.latest_version()
        files_before = len(log.read_manifest(v_before)["files"])
        pre = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        log.optimize(spark, target_rows_per_file=50_000)
        files_after = len(log.read_manifest()["files"])
        post = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        # pre-OPTIMIZE snapshot must still resolve through the old files
        tt = log.snapshot(spark, version=v_before)
        tt_files = set(tt.inputFiles())
        tt_n = tt.count()
        time_travel_ok = bool(
            tt_n == pre["n"] and len(tt_files) == files_before
        )
        return tables.local_row(
            spark,
            ("files_before", int(files_before), "int"),
            ("files_after", int(files_after), "int"),
            ("n_rows", int(post["n"]), "bigint"),
            ("n_versions", len(log.versions()), "int"),
            (
                "content_preserved",
                bool(pre["n"] == post["n"] and pre["s"] == post["s"]),
                "boolean",
            ),
            ("time_travel_ok", time_travel_ok, "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_optimize_sharded",
    oracle="""
    WITH live AS (SELECT * FROM events WHERE event_id % 7 != 0)
    SELECT CAST(24 AS INT) AS files_before,
           CAST(3 AS INT) AS shards_before,
           CAST(greatest(1, ceil(count(*) / 50000.0)) AS INT) AS files_after,
           CAST(1 AS INT) AS shards_after,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(5 AS INT) AS n_versions,
           true AS content_preserved,
           true AS time_travel_ok,
           true AS cdf_invisible,
           true AS dv_consumed
    FROM live
    """,
    doc="Round-10: file compaction for the SHARDED manifest protocol — "
    "the small-file remedy the high-landing-rate stream-sink protocol "
    "lacked (optimize() previously refused sharded tables; only "
    "manifests could be compacted). Three sharded landings (24 small "
    "files, 3 shard refs) plus a MOR delete vector (event_id%7==0) "
    "are compacted: the rewrite materializes the DV (consumed, not "
    "carried — no resurrection), replaces exactly the read set, and "
    "commits a FRESH shard set (1 ref) as data_change=false, so "
    "changes_between refuses the optimize-only range (cdf_invisible). "
    "Pre-OPTIMIZE time travel still resolves through the old shard "
    "refs (24 files, full pre-delete count). Conflict semantics "
    "(OPTIMIZE-vs-append commutes, OPTIMIZE-vs-OPTIMIZE raises "
    "CommitConflict) are pytest-pinned in tests/test_tablelog.py. "
    "files_after is a deterministic function of the live row count "
    "(repartition(n) on non-empty data writes exactly n files), so "
    "the oracle recomputes the whole census from the logical input.",
    tags=("lakehouse", "maintenance", "streaming-sink", "events"),
)
def lake_optimize_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog, _write_dv

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_optshard_")
    try:
        log = TableLog(base)
        for m in (0, 1, 2):
            log.append_manifest_sharded(
                ev.filter(F.col("event_id") % 3 == m), n_files=8, tag=f"e{m}"
            )
        v_appends = log.latest_version()
        files_before = len(log.resolve_files())
        shards_before = len(log.read_manifest()["manifest_shards"])
        pre_n = log.snapshot(spark).count()

        # MOR delete vector: event_id % 7 == 0, committed carrying the
        # shard refs forward (sharded-protocol delete-mor shape)
        dv_dir = _write_dv(
            ev.filter(F.col("event_id") % 7 == 0).select("event_id"), base + "/dv"
        )

        def add_dv(prev: dict) -> tuple[list, dict]:
            return [], {
                "manifest_shards": prev["manifest_shards"],
                "sharded": True,
                "delete_vectors": [dv_dir],
            }

        log.commit(op="delete-mor", build=add_dv)
        v_delete = log.latest_version()

        expected = ev.filter(F.col("event_id") % 7 != 0).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]

        v_opt = log.optimize(spark, target_rows_per_file=50_000)
        m_final = log.read_manifest(v_opt)
        post = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        files_after = len(log.resolve_files())
        shards_after = len(m_final["manifest_shards"])

        tt = log.snapshot(spark, version=v_appends)
        time_travel_ok = bool(
            tt.count() == pre_n and len(set(tt.inputFiles())) == files_before
        )
        try:
            log.changes_between(spark, v_delete, v_opt)
            cdf_invisible = False  # optimize leaked into the change feed
        except ValueError:
            cdf_invisible = True
        return tables.local_row(
            spark,
            ("files_before", int(files_before), "int"),
            ("shards_before", int(shards_before), "int"),
            ("files_after", int(files_after), "int"),
            ("shards_after", int(shards_after), "int"),
            ("n_rows", int(post["n"]), "bigint"),
            ("n_versions", len(log.versions()), "int"),
            (
                "content_preserved",
                bool(post["n"] == expected["n"] and post["s"] == expected["s"]),
                "boolean",
            ),
            ("time_travel_ok", time_travel_ok, "boolean"),
            ("cdf_invisible", cdf_invisible, "boolean"),
            ("dv_consumed", "delete_vectors" not in m_final, "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_stats_prune",
    oracle="""
    WITH m AS (SELECT max(event_id) AS mxid FROM events),
    p AS (
      SELECT ((mxid + 1) + 7) // 8 AS w,
             (mxid + 1) // 4 AS lo,
             ((mxid + 1) * 2) // 5 AS hi
      FROM m
    ),
    bk AS (
      SELECT event_id // p.w AS b, p.lo AS lo, p.hi AS hi,
             min(event_id) AS mn, max(event_id) AS mx
      FROM events, p GROUP BY 1, p.lo, p.hi
    )
    SELECT CAST(count(*) AS INT) AS files_total,
           CAST(count(*) FILTER (WHERE mn <= hi AND mx >= lo) AS INT)
             AS files_scanned,
           (SELECT CAST(count(*) AS BIGINT) FROM events e, p
            WHERE e.event_id BETWEEN p.lo AND p.hi) AS n_rows,
           true AS pruned_equals_full
    FROM bk
    """,
    doc="Manifest-stats data skipping — the file-pruning lever every "
    "lakehouse manifest exists to enable: files are landed "
    "range-bucketed on event_id with per-file [min,max] recorded in "
    "the manifest (one grouped agg computes all stats executor-side); "
    "a range read resolves the manifest and scans ONLY files whose "
    "recorded interval overlaps the predicate, with the exact filter "
    "still applied on top (stats pruning must stay a superset). The "
    "oracle recomputes bucket intervals and overlap from the logical "
    "input, so files_scanned (2 of 8 for the 25%-40% id range) is "
    "replayed, and pruned_equals_full asserts the pruned read returns "
    "exactly the full scan's rows. At 100 TB this is the difference "
    "between touching 2% and 100% of a partition's files — the same "
    "lever as scan_partition_pruning, moved into table metadata where "
    "it composes with time travel. The per-bucket single-file landing "
    "here is the demo shape; production writes once via "
    "repartitionByRange and records per-partition stats in the same "
    "write pass.",
    tags=("lakehouse", "scan", "time-travel", "events"),
)
def lake_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    mxid = int(ev.agg(F.max("event_id")).collect()[0][0])  # bounded scalar
    width = ((mxid + 1) + 7) // 8
    lo, hi = (mxid + 1) // 4, ((mxid + 1) * 2) // 5
    base = staging.new_dir("crs_statsprune_")
    try:
        log = TableLog(base)
        log.append_range_bucketed(ev, "event_id", width=width, tag="ev")
        pruned, files_total, files_scanned = log.snapshot_pruned(
            spark, "event_id", lo, hi
        )
        n_pruned = pruned.count()
        n_full = log.snapshot(spark).filter(
            F.col("event_id").between(lo, hi)
        ).count()
        return tables.local_row(
            spark,
            ("files_total", files_total, "int"),
            ("files_scanned", files_scanned, "int"),
            ("n_rows", n_pruned, "bigint"),
            ("pruned_equals_full", bool(n_pruned == n_full), "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_vacuum_retention",
    oracle="""
    SELECT CAST(24 AS INT) AS n_files_removed,
           CAST(greatest(1, ceil(count(*) / 50000.0)) AS INT) AS n_files_live,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(4 AS INT) AS n_log_versions,
           true AS live_readable,
           true AS history_unreadable
    FROM events
    """,
    doc="VACUUM with retention — the lifecycle end Delta formalizes: "
    "after three 8-file appends and a committed OPTIMIZE, vacuum "
    "(retain 1 version) physically deletes the 24 superseded data "
    "files while the compacted snapshot keeps serving reads "
    "(live_readable: row count unchanged after vacuum). Manifests are "
    "NEVER deleted, so the log stays auditable, but time travel to "
    "the pre-OPTIMIZE version now fails at scan time "
    "(history_unreadable, asserted by attempting the read) — the "
    "documented retention trade every lakehouse operator makes "
    "between storage and time-travel horizon. All counts are "
    "deterministic functions of the logical row count, replayed by "
    "the oracle. Vacuum itself is a metadata diff plus unlink loop — "
    "no data moves, no driver rows.",
    tags=("lakehouse", "maintenance", "time-travel", "events"),
)
def lake_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_vacuum_")
    try:
        log = TableLog(base)
        for m in (0, 1, 2):
            log.append(ev.filter(F.col("event_id") % 3 == m), n_files=8, tag=f"e{m}")
        v_pre = log.latest_version()
        log.optimize(spark, target_rows_per_file=50_000)
        census = log.vacuum(retain_versions=1)
        n_rows = log.snapshot(spark).count()
        try:
            log.snapshot(spark, version=v_pre).count()
            history_unreadable = False
        except Exception:
            history_unreadable = True
        return tables.local_row(
            spark,
            ("n_files_removed", int(census["n_removed"]), "int"),
            ("n_files_live", int(census["n_live"]), "int"),
            ("n_rows", int(n_rows), "bigint"),
            ("n_log_versions", len(log.versions()), "int"),
            ("live_readable", bool(n_rows > 0), "boolean"),
            ("history_unreadable", history_unreadable, "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _zorder_sql(x: str, y: str, bits: int = 6) -> str:
    """Morton/Z-value of two ``bits``-bit ints. Bit i is tested as
    ``v % 2^(i+1) >= 2^i`` — mod/compare only, so the IDENTICAL
    expression text parses in Spark SQL and DuckDB (integer division
    spells ``div`` in one and ``//`` in the other; shifts differ too,
    so neither is portable)."""
    terms = []
    for i in range(bits):
        terms.append(
            f"(CASE WHEN {x} % {1 << (i + 1)} >= {1 << i}"
            f" THEN {1 << (2 * i + 1)} ELSE 0 END)"
        )
        terms.append(
            f"(CASE WHEN {y} % {1 << (i + 1)} >= {1 << i}"
            f" THEN {1 << (2 * i)} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "lake_zorder_locality",
    oracle=f"""
    WITH pts AS (
      SELECT user_id % 64 AS x, event_id % 64 AS y FROM events
    ), keyed AS (
      SELECT x, y,
             ({_zorder_sql('x', 'y')}) AS z,
             x * 64 + y AS lin
      FROM pts
    ), box AS (SELECT * FROM keyed WHERE y BETWEEN 0 AND 3)
    SELECT CAST(count(*) AS BIGINT) AS n_rows_in_box,
           CAST(count(DISTINCT (z - z % 256) // 256) AS INT) AS zorder_files_touched,
           CAST(count(DISTINCT (lin - lin % 256) // 256) AS INT) AS linear_files_touched,
           count(DISTINCT z // 256) < count(DISTINCT lin // 256)
             AS zorder_wins
    FROM box
    """,
    doc="Z-order (Morton curve) clustering locality — the lever behind "
    "Delta's OPTIMIZE ZORDER BY and the reason single-column range "
    "bucketing (lake_stats_prune) stops helping once queries filter a "
    "SECOND dimension: interleaving the bits of (x, y) makes file "
    "ranges of the sort key cover compact 2-D tiles, so a box "
    "predicate touches O(perimeter) files instead of every stripe. "
    "Measured on events with x = user_id%64, y = event_id%64, 16 "
    "files of 256 key values each: the y<=3 slab touches 4 of 16 "
    "z-ordered files vs 16 of 16 linear-ordered ones (every x stripe "
    "contains the slab). The z-value is pure div/mod integer "
    "arithmetic — the IDENTICAL expression text runs in both engines, "
    "so the oracle is exact; combined with per-file min/max stats "
    "this is executable file pruning, not an analogy. At 100 TB the "
    "write path is repartitionByRange(zvalue) + per-file stats in the "
    "same pass.",
    tags=("lakehouse", "scan", "events"),
)
def lake_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    pts = ev.select(
        (F.col("user_id") % 64).alias("x"), (F.col("event_id") % 64).alias("y")
    )
    keyed = pts.select(
        "x",
        "y",
        F.expr(_zorder_sql("x", "y")).alias("z"),
        (F.col("x") * 64 + F.col("y")).alias("lin"),
    )
    box = keyed.filter(F.col("y").between(0, 3))
    return box.agg(
        F.count(F.lit(1)).alias("n_rows_in_box"),
        F.countDistinct((F.col("z") / 256).cast("bigint")).cast("int").alias(
            "zorder_files_touched"
        ),
        F.countDistinct((F.col("lin") / 256).cast("bigint")).cast("int").alias(
            "linear_files_touched"
        ),
    ).select(
        "n_rows_in_box",
        "zorder_files_touched",
        "linear_files_touched",
        (F.col("zorder_files_touched") < F.col("linear_files_touched")).alias(
            "zorder_wins"
        ),
    )


@register(
    "lake_delete_mor",
    oracle="""
    WITH t AS (
      SELECT count(*) AS n_total,
             count(*) FILTER (WHERE event_type <> 'error') AS n_live,
             CAST(sum(CAST(floor(value * 100) AS BIGINT))
                  FILTER (WHERE event_type <> 'error') AS BIGINT) AS vc_live
      FROM events
    )
    SELECT CAST(n_total AS BIGINT) AS n_rows_v0,
           CAST(n_live AS BIGINT) AS n_rows_mor,
           CAST(n_total - n_live AS BIGINT) AS n_deleted,
           vc_live AS vc_mor,
           CAST(8 AS INT) AS files_before_delete,
           CAST(8 AS INT) AS files_after_delete,
           true AS delete_was_metadata_only,
           true AS compaction_materializes
    FROM t
    """,
    doc="Merge-on-read DELETE via deletion-vector sidecar — the Delta "
    "deletion-vectors / Iceberg delete-files mechanism on the "
    "manifest log: version 1 commits the SAME 8 data files as version "
    "0 plus a sidecar naming the deleted keys (event_type='error' "
    "rows), so the DELETE is a pure metadata commit "
    "(delete_was_metadata_only: file list unchanged, nothing "
    "rewritten — the O(seconds) delete a 100 TB table needs, vs "
    "copy-on-write's full file rewrite). Readers of v1 merge on read: "
    "scan the files, anti-join the sidecar keys (row count + "
    "fixed-point checksum oracle-checked against the logical "
    "filter). Version 2 OPTIMIZE then materializes the deletes — "
    "rewritten files carry only live rows, the sidecar is dropped, "
    "and the materialized read must equal the merge-on-read answer "
    "(compaction_materializes). Time travel to v0 still sees the "
    "pre-delete rows. The sidecar is written executor-side as "
    "parquet; the driver holds file names only.",
    tags=("lakehouse", "merge", "time-travel", "events"),
)
def lake_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from chess_ratings_spark.operators.tablelog import TableLog, _write_dv

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_mor_")
    try:
        log = TableLog(base)
        log.append(ev, n_files=8, tag="full")
        n_v0 = log.snapshot(spark).count()
        files_v0 = list(log.read_manifest(0)["files"])

        # -- v1: DELETE WHERE event_type='error' as a sidecar commit --
        dv_dir = _write_dv(
            ev.filter(F.col("event_type") == "error").select("event_id"),
            str(Path(base) / "deletes" / "v1"),
        )
        v1 = log.commit(
            files_v0, op="delete-mor", extra={"delete_vectors": [dv_dir]}
        )
        files_v1 = list(log.read_manifest(v1)["files"])
        metadata_only = sorted(files_v1) == sorted(files_v0)

        mor = log.snapshot_mor(spark, v1).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
        ).collect()[0]

        # -- v2: OPTIMIZE materializes the deletes, sidecar dropped --
        live = log.snapshot_mor(spark, v1)
        n_out = max(1, (int(mor["n"]) + 49_999) // 50_000)
        new_files = log._land(live, n_out, tag="materialized")
        v2 = log.commit(new_files, op="optimize-materialize-deletes")
        # both read after the v2 commit: one action
        mat, tt_v0 = tables.collect_aggs(
            log.snapshot(spark, v2).agg(
                F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
            ),
            log.snapshot(spark, 0).agg(F.count(F.lit(1)).alias("n")),
        )
        n_tt_v0 = tt_v0["n"]

        return tables.local_row(
            spark,
            ("n_rows_v0", int(n_v0), "bigint"),
            ("n_rows_mor", int(mor["n"]), "bigint"),
            ("n_deleted", int(n_v0 - mor["n"]), "bigint"),
            ("vc_mor", int(mor["vc"]), "bigint"),
            ("files_before_delete", len(files_v0), "int"),
            ("files_after_delete", len(files_v1), "int"),
            ("delete_was_metadata_only", bool(metadata_only), "boolean"),
            (
                "compaction_materializes",
                bool(
                    mat["n"] == mor["n"]
                    and mat["vc"] == mor["vc"]
                    and n_tt_v0 == n_v0
                ),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_partition_evolution",
    oracle="""
    WITH d AS (
      SELECT day(ts) - 1 AS day, CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    g1 AS (SELECT day // 7 AS b, min(day) AS mn, max(day) AS mx
           FROM d WHERE day <= 14 GROUP BY 1),
    g2 AS (SELECT day AS b, min(day) AS mn, max(day) AS mx
           FROM d WHERE day > 14 GROUP BY 1)
    SELECT CAST((SELECT count(*) FROM g1) + (SELECT count(*) FROM g2)
                AS INT) AS files_total,
           CAST((SELECT count(*) FROM g1 WHERE mn <= 17 AND mx >= 9)
              + (SELECT count(*) FROM g2 WHERE mn <= 17 AND mx >= 9)
                AS INT) AS files_scanned,
           (SELECT CAST(count(*) AS BIGINT) FROM d
            WHERE day BETWEEN 9 AND 17) AS n_rows,
           (SELECT CAST(sum(vc) AS BIGINT) FROM d
            WHERE day BETWEEN 9 AND 17) AS vc_sum,
           true AS pruned_equals_full,
           true AS old_files_untouched
    """,
    doc="Partition-spec evolution (the Iceberg guarantee: change how "
    "NEW data is partitioned without rewriting history): generation 1 "
    "(days 0-14 of events) lands one file per WEEK, generation 2 "
    "(days 15-29) lands one file per DAY — both appended to the same "
    "manifest log, each file carrying its own [min,max] day stats. A "
    "day-range read (day 9-17) prunes across BOTH specs from the same "
    "stats mechanism: 2 of 3 week files + 3 of 15 day files = 5 of 18 "
    "scanned, with the exact predicate on top and the full-scan "
    "equality asserted. Generation-1 files are byte-identical in the "
    "final manifest (old_files_untouched) — the point of evolution is "
    "that a finer spec for new data costs zero rewrite of the old. "
    "The oracle recomputes file counts and overlap from the logical "
    "day distribution. NTZ day() is wall-clock identical on both "
    "engines.",
    tags=("lakehouse", "scan", "time-travel", "events"),
)
def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        (F.dayofmonth("ts") - 1).cast("bigint").alias("day"),
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_partevo_")
    try:
        log = TableLog(base)
        log.append_range_bucketed(
            ev.filter(F.col("day") <= 14), "day", width=7, tag="weekly"
        )
        gen1_files = set(log.read_manifest()["files"])
        log.append_range_bucketed(
            ev.filter(F.col("day") > 14), "day", width=1, tag="daily"
        )
        final_files = set(log.read_manifest()["files"])
        pruned, files_total, files_scanned = log.snapshot_pruned(
            spark, "day", 9, 17
        )
        agg = pruned.agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
        ).collect()[0]
        n_full = (
            log.snapshot(spark).filter(F.col("day").between(9, 17)).count()
        )
        return tables.local_row(
            spark,
            ("files_total", files_total, "int"),
            ("files_scanned", files_scanned, "int"),
            ("n_rows", int(agg["n"]), "bigint"),
            ("vc_sum", int(agg["vc"]), "bigint"),
            ("pruned_equals_full", bool(agg["n"] == n_full), "boolean"),
            (
                "old_files_untouched",
                bool(gen1_files <= final_files),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "pipeline_cdc_apply",
    oracle="""
    WITH feed AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ), latest AS (
      SELECT user_id, event_type, vc,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM feed
    ), final AS (
      SELECT user_id, event_type, vc FROM latest WHERE rn = 1
    )
    SELECT CAST(count(*) FILTER (WHERE event_type <> 'error') AS BIGINT)
             AS n_live_keys,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
             AS n_tombstoned_keys,
           CAST(sum(vc) FILTER (WHERE event_type <> 'error') AS BIGINT)
             AS live_value_centi,
           CAST(sum(user_id) FILTER (WHERE event_type <> 'error') AS BIGINT)
             AS live_key_checksum
    FROM final
    """,
    doc="CDC APPLY CHANGES: a change feed (events as upserts, "
    "event_type='error' as DELETE tombstones) collapses to final "
    "table state — per key, ONLY the latest change by the total "
    "sequence order (ts, event_id) survives, and a trailing tombstone "
    "removes the key entirely. This is the semantics Delta's APPLY "
    "CHANGES INTO / Debezium consumers implement, and the ordering "
    "discipline is the whole point: out-of-order application "
    "resurrects deleted keys or regresses values, so the sequence "
    "column must be a total order per key (the unique event_id "
    "tiebreak here). One row_number window per key partition — one "
    "shuffle, no self-join, same scale shape as scd2_history (SCD2 "
    "keeps every version; CDC apply keeps the last). Live/tombstone "
    "censuses + fixed-point value and key checksums pin the exact "
    "surviving state.",
    tags=("lakehouse", "merge", "events"),
)
def pipeline_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tables.load(spark, sf_dir, "events")
    feed = ev.select(
        "user_id", "event_id", "ts", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    final = (
        feed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "vc")
    )
    live = F.col("event_type") != "error"
    return final.agg(
        F.count(F.when(live, 1)).alias("n_live_keys"),
        F.count(F.when(~live, 1)).alias("n_tombstoned_keys"),
        F.sum(F.when(live, F.col("vc"))).cast("bigint").alias(
            "live_value_centi"
        ),
        F.sum(F.when(live, F.col("user_id"))).cast("bigint").alias(
            "live_key_checksum"
        ),
    )


@register(
    "lakehouse_lifecycle",
    oracle="""
    WITH t AS (
      SELECT count(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
             count(*) AS n_all,
             count(*) FILTER (WHERE event_type <> 'error') AS n_live,
             CAST(sum(CAST(floor(value * 100) AS BIGINT))
                  FILTER (WHERE event_type <> 'error') AS BIGINT) AS vc_live
      FROM events
    )
    SELECT CAST(n_a AS BIGINT) AS v0_rows,
           CAST(n_all AS BIGINT) AS v1_rows,
           CAST(n_live AS BIGINT) AS mor_rows,
           CAST(n_all - n_live AS BIGINT) AS n_deleted,
           CAST(8 AS INT) AS files_before_optimize,
           CAST(greatest(1, ceil(n_live / 50000.0)) AS INT)
             AS files_after_optimize,
           CAST(8 AS INT) AS vacuum_removed,
           CAST(4 AS INT) AS log_versions,
           vc_live AS live_value_centi,
           true AS time_travel_worked_before_vacuum,
           true AS history_pruned_after_vacuum
    FROM t
    """,
    doc="Lakehouse lifecycle capstone — every TableLog verb composed "
    "into one audited pipeline, each transition checked where it "
    "happens: (v0) append half the events, (v1) append the rest — "
    "time travel to v0 must still return exactly the first half "
    "AFTER v1 lands; (v2) DELETE the error rows as a metadata-only "
    "deletion-vector commit — the merge-on-read count and fixed-point "
    "checksum must equal the logical filter; (v3) OPTIMIZE "
    "materializes the deletes into right-sized files and drops the "
    "sidecar; finally VACUUM (retain 1) physically removes the 8 "
    "superseded data files, after which the live snapshot still "
    "serves the same rows but v0 time travel fails at scan "
    "(history_pruned_after_vacuum, asserted by attempting it). Every "
    "number the pipeline reports is recomputed by the oracle from "
    "the logical input — the lifecycle leaves no unverified step. "
    "This is corpus_prepare_v2's composition discipline applied to "
    "the table-format tier.",
    tags=("lakehouse", "time-travel", "merge", "maintenance", "events"),
)
def lakehouse_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from chess_ratings_spark.operators.tablelog import TableLog, _write_dv

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_lifecycle_")
    try:
        log = TableLog(base)
        # v0 + v1: two appends
        log.append(ev.filter(F.col("user_id") % 2 == 0), n_files=4, tag="a")
        log.append(ev.filter(F.col("user_id") % 2 == 1), n_files=4, tag="b")
        v0_rows = log.snapshot(spark, 0).count()  # time travel under v1
        v1_rows = log.snapshot(spark, 1).count()
        files_v1 = list(log.read_manifest(1)["files"])

        # v2: merge-on-read DELETE via deletion-vector sidecar
        dv_dir = _write_dv(
            ev.filter(F.col("event_type") == "error").select("event_id"),
            str(Path(base) / "dv"),
        )
        v2 = log.commit(
            files_v1, op="delete-mor", extra={"delete_vectors": [dv_dir]}
        )
        mor = log.snapshot_mor(spark, v2)
        mor_stats = mor.agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
        ).collect()[0]

        # v3: OPTIMIZE materializes the deletes, sidecar dropped
        n_out = max(1, (int(mor_stats["n"]) + 49_999) // 50_000)
        log.commit(log._land(mor, n_out, tag="mat"), op="optimize-mat")
        census = log.vacuum(retain_versions=1)
        live = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
        ).collect()[0]
        try:
            log.snapshot(spark, 0).count()
            history_pruned = False
        except Exception:
            history_pruned = True

        return tables.local_row(
            spark,
            ("v0_rows", int(v0_rows), "bigint"),
            ("v1_rows", int(v1_rows), "bigint"),
            ("mor_rows", int(mor_stats["n"]), "bigint"),
            ("n_deleted", int(v1_rows - mor_stats["n"]), "bigint"),
            ("files_before_optimize", len(files_v1), "int"),
            ("files_after_optimize", int(census["n_live"]), "int"),
            ("vacuum_removed", int(census["n_removed"]), "int"),
            ("log_versions", len(log.versions()), "int"),
            ("live_value_centi", int(live["vc"]), "bigint"),
            (
                "time_travel_worked_before_vacuum",
                bool(
                    v0_rows < v1_rows
                    and live["n"] == mor_stats["n"]
                    and live["vc"] == mor_stats["vc"]
                ),
                "boolean",
            ),
            ("history_pruned_after_vacuum", history_pruned, "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_changes_between",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    feed AS (
      SELECT 1 AS commit_version, 'insert' AS change_type, *
      FROM ev WHERE user_id % 3 = 1
      UNION ALL
      SELECT 2, 'delete', * FROM ev
      WHERE event_type = 'error' AND user_id % 3 <> 2
      UNION ALL
      SELECT 4, 'insert', * FROM ev WHERE user_id % 3 = 2
    )
    SELECT commit_version, change_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vc) AS BIGINT) AS vc_sum,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM feed GROUP BY commit_version, change_type
    ORDER BY commit_version, change_type
    """,
    doc="Change data feed / incremental scan on the manifest log "
    "(operators/tablelog.py changes_between) — the Delta CDF / "
    "Iceberg incremental-read verb that makes pipeline_incremental's "
    "bookmark pattern real end-to-end: a consumer that has processed "
    "up to version N reads exactly the rows later commits added or "
    "deleted, never a full snapshot. History built here: v0 appends "
    "a third of events (user_id%3=0), v1 appends another third, v2 "
    "is a merge-on-read DELETE of the error rows via a delete-vector "
    "sidecar, v3 is OPTIMIZE (data_change=false), v4 appends the "
    "last third. changes_between(0, 4) must emit v1's files as "
    "inserts (file-level manifest diff — appends never rewrite), "
    "v2's full deleted ROWS (v1 snapshot semi-joined to the new "
    "delete vector, as Delta CDF emits deletes), NOTHING for the "
    "OPTIMIZE rewrite (the churn an incremental consumer must not "
    "re-process — its absence from the result is the point the "
    "oracle pins), and v4's files as inserts. The oracle replays "
    "each commit's logical predicate; counts, fixed-point checksums "
    "and distinct-user counts must agree per (version, change_type). "
    "At 100 TB every feed element is a pruned parquet scan of just "
    "the added files / one prior snapshot, unioned lazily — the "
    "driver handles file names only.",
    tags=("lakehouse", "cdc", "time-travel", "events"),
)
def lake_changes_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from chess_ratings_spark.operators.tablelog import TableLog, _write_dv

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_cdf_")
    try:
        log = TableLog(base)
        log.append(ev.filter(F.col("user_id") % 3 == 0), n_files=4, tag="m0")
        log.append(ev.filter(F.col("user_id") % 3 == 1), n_files=4, tag="m1")
        # v2: MOR delete of the error rows present at v1 (sidecar keys)
        dv_dir = _write_dv(
            ev.filter(
                (F.col("event_type") == "error") & (F.col("user_id") % 3 != 2)
            ).select("event_id"),
            str(Path(base) / "dv" / "v2"),
        )
        log.commit(
            log.read_manifest()["files"],
            op="delete-mor",
            extra={"delete_vectors": [dv_dir]},
        )
        log.optimize(spark, target_rows_per_file=100_000)  # v3: no data change
        log.append(ev.filter(F.col("user_id") % 3 == 2), n_files=4, tag="m2")

        feed = log.changes_between(spark, 0, 4)
        out = (
            feed.select(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
                "user_id",
                "vc",
            )
            .groupBy("commit_version", "change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("vc").cast("bigint").alias("vc_sum"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .orderBy("commit_version", "change_type")
        )
        # the feed is lazy over files inside `base` — materialize before
        # the tempdir is removed (bounded: <=6 (version, type) rows)
        rows = out.collect()
        return tables.local_table(
            spark,
            [tuple(r) for r in rows],
            [
                ("commit_version", "int"),
                ("change_type", "string"),
                ("n", "bigint"),
                ("vc_sum", "bigint"),
                ("n_users", "bigint"),
            ],
        ).orderBy("commit_version", "change_type")
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_merge_cdf",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    live AS (
      SELECT * FROM ev
      WHERE NOT (event_type = 'error' AND user_id % 3 <> 2)
    )
    SELECT CAST((SELECT count(*) FROM live) AS BIGINT) AS n_source_live,
           CAST((SELECT count(*) FROM live) AS BIGINT) AS n_replica,
           CAST((SELECT sum(vc) FROM live) AS BIGINT) AS vc_source,
           CAST((SELECT sum(vc) FROM live) AS BIGINT) AS vc_replica,
           CAST((SELECT count(*) FROM ev WHERE user_id % 3 <> 0)
                AS BIGINT) AS applied_inserts,
           CAST((SELECT count(*) FROM ev
                 WHERE event_type = 'error' AND user_id % 3 <> 2)
                AS BIGINT) AS applied_deletes,
           true AS replica_matches_source
    """,
    doc="Downstream replica sync driven by the change data feed — the "
    "consumer half of lake_changes_between, and the pattern that "
    "makes CDC real end-to-end: a replica that applied version 0 "
    "(bookmark) consumes changes_between(0, latest) ONCE and must "
    "land exactly at the source's live merge-on-read state, having "
    "moved only the changed rows (never a full snapshot copy — the "
    "whole point of incremental consumption at 100 TB). Source "
    "history: v0/v1 append thirds of events, v2 merge-on-read "
    "DELETEs the error rows via a delete-vector sidecar, v3 "
    "OPTIMIZE (must contribute zero feed rows), v4 appends the last "
    "third. Apply = union the insert feed, anti-join the delete "
    "feed's keys. The oracle recomputes the final state and both "
    "feed volumes from the logical predicates; "
    "replica_matches_source pins count AND fixed-point checksum "
    "equality, so a feed that leaks OPTIMIZE churn, misses a "
    "delete, or double-applies an insert hash-mismatches.",
    tags=("lakehouse", "cdc", "merge", "events"),
)
def lake_merge_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from chess_ratings_spark.operators.tablelog import TableLog, _write_dv

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_cdfsync_")
    try:
        log = TableLog(base)
        log.append(ev.filter(F.col("user_id") % 3 == 0), n_files=4, tag="m0")
        log.append(ev.filter(F.col("user_id") % 3 == 1), n_files=4, tag="m1")
        dv_dir = _write_dv(
            ev.filter(
                (F.col("event_type") == "error") & (F.col("user_id") % 3 != 2)
            ).select("event_id"),
            str(Path(base) / "dv" / "v2"),
        )
        log.commit(
            log.read_manifest()["files"],
            op="delete-mor",
            extra={"delete_vectors": [dv_dir]},
        )
        log.optimize(spark, target_rows_per_file=100_000)
        log.append(ev.filter(F.col("user_id") % 3 == 2), n_files=4, tag="m2")
        v_latest = log.latest_version()

        # replica bookmarked at v0, then ONE incremental apply
        replica = log.snapshot(spark, 0)
        feed = log.changes_between(spark, 0, v_latest)
        ins = feed.filter(F.col("_change_type") == "insert").drop(
            "_change_type", "_commit_version"
        )
        dels = feed.filter(F.col("_change_type") == "delete").select("event_id")
        applied = replica.unionByName(ins).join(
            F.broadcast(dels), "event_id", "left_anti"
        )

        # source truth = live merge-on-read state at v_latest
        src = log.snapshot_mor(spark, v_latest)

        r = applied.agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
        ).collect()[0]
        s = src.agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
        ).collect()[0]
        n_ins = ins.count()
        n_del = dels.count()
        return tables.local_row(
            spark,
            ("n_source_live", int(s["n"]), "bigint"),
            ("n_replica", int(r["n"]), "bigint"),
            ("vc_source", int(s["vc"]), "bigint"),
            ("vc_replica", int(r["vc"]), "bigint"),
            ("applied_inserts", int(n_ins), "bigint"),
            ("applied_deletes", int(n_del), "bigint"),
            (
                "replica_matches_source",
                bool(r["n"] == s["n"] and r["vc"] == s["vc"]),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_clone_shallow",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    base AS (SELECT * FROM ev WHERE user_id % 3 <> 2),
    cd AS (SELECT * FROM ev WHERE user_id % 3 = 2 AND event_id % 2 = 0),
    sd AS (SELECT * FROM ev WHERE user_id % 3 = 2 AND event_id % 2 = 1)
    SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n_base,
           CAST((SELECT count(*) FROM base) + (SELECT count(*) FROM cd)
                AS BIGINT) AS n_clone,
           CAST((SELECT count(*) FROM base) + (SELECT count(*) FROM sd)
                AS BIGINT) AS n_source,
           CAST((SELECT sum(vc) FROM base) + (SELECT sum(vc) FROM cd)
                AS BIGINT) AS vc_clone,
           CAST((SELECT sum(vc) FROM base) + (SELECT sum(vc) FROM sd)
                AS BIGINT) AS vc_source,
           CAST(8 AS INT) AS shared_files,
           CAST(2 AS INT) AS clone_own_files,
           true AS clone_survives_source_vacuum,
           true AS unregistered_clone_breaks
    """,
    doc="SHALLOW CLONE (Delta CLONE / Iceberg snapshot ref): a new "
    "table whose v0 manifest REFERENCES the source's data files — "
    "zero bytes copied, an O(manifest) metadata commit, which is how "
    "a 100 TB table gets a dev/test fork in seconds. Both tables "
    "then diverge independently (clone appends the even half of the "
    "third-third of events, source the odd half); each side's count "
    "and fixed-point checksum is oracle-replayed, and the zero-copy "
    "claim is pinned structurally: the clone's v0 manifest lists "
    "exactly the source's 8 files (shared_files) while its own data "
    "dir holds only its 2 delta files (clone_own_files). Round 10 "
    "closes the vacuum-breaks-clones hazard MECHANICALLY: clone_to "
    "registers a back-pointer under the source log that vacuum's "
    "live-set walk consults, so after the source OPTIMIZEs and "
    "VACUUMs the registered clone still reads its full snapshot "
    "(clone_survives_source_vacuum). The hazard itself stays "
    "demonstrated: a hand-rolled UNREGISTERED clone of the same "
    "snapshot fails at scan after the vacuum "
    "(unregistered_clone_breaks — Delta's caveat, made executable). "
    "Cross-table reference counting reduced to its mechanism.",
    tags=("lakehouse", "time-travel", "maintenance", "events"),
)
def lake_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    root = staging.new_dir("crs_clone_")
    try:
        src = TableLog(Path(root) / "src")
        src.append(ev.filter(F.col("user_id") % 3 == 0), n_files=4, tag="a")
        src.append(ev.filter(F.col("user_id") % 3 == 1), n_files=4, tag="b")
        n_base = src.snapshot(spark).count()
        base_files = list(src.read_manifest()["files"])

        # SHALLOW CLONE: the clone's v0 manifest points at the source's
        # files — a pure metadata commit, zero data copied. clone_to
        # registers a vacuum-guard back-pointer under the source log.
        clone = src.clone_to(Path(root) / "clone")
        shared = len(
            set(clone.read_manifest(0)["files"]) & set(base_files)
        )
        # an UNREGISTERED hand-rolled clone: the hazard under test
        rogue = TableLog(Path(root) / "rogue")
        rogue.commit(base_files, op="clone")

        third = ev.filter(F.col("user_id") % 3 == 2)
        clone.append(third.filter(F.col("event_id") % 2 == 0), 2, "cd")
        src.append(third.filter(F.col("event_id") % 2 == 1), 2, "sd")
        own = len(list(clone.data_dir.glob("*.parquet")))

        c = clone.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
        ).collect()[0]
        s = src.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("vc")
        ).collect()[0]

        # source maintenance: OPTIMIZE supersedes the shared base
        # files, but vacuum's clone guard must keep them alive for the
        # registered clone — while the unregistered one breaks.
        src.optimize(spark, target_rows_per_file=200_000)
        src.vacuum(retain_versions=1)
        try:
            survives = int(clone.snapshot(spark).count()) == int(c["n"])
        except Exception:
            survives = False
        # rogue references exactly the files the registered clone
        # guards, so it coasts on that protection while the clone
        # exists; deregister (delete) the clone and re-vacuum to
        # expose the unregistered hazard
        import shutil as _sh

        _sh.rmtree(clone.base)
        src.vacuum(retain_versions=1)
        try:
            rogue.snapshot(spark).count()
            rogue_broken = False
        except Exception:
            rogue_broken = True

        return tables.local_row(
            spark,
            ("n_base", int(n_base), "bigint"),
            ("n_clone", int(c["n"]), "bigint"),
            ("n_source", int(s["n"]), "bigint"),
            ("vc_clone", int(c["vc"]), "bigint"),
            ("vc_source", int(s["vc"]), "bigint"),
            ("shared_files", int(shared), "int"),
            ("clone_own_files", int(own), "int"),
            ("clone_survives_source_vacuum", bool(survives), "boolean"),
            ("unregistered_clone_breaks", bool(rogue_broken), "boolean"),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "lake_bloom_prune",
    oracle="""
    WITH c AS (
      SELECT count(*) AS cnt, max(user_id) AS mxu,
             min(event_id) AS mne, max(event_id) AS mxe,
             min(CASE WHEN event_type = 'error' THEN event_id END) AS mnerr
      FROM events
    ),
    p AS (SELECT 2 * cnt AS m, ((mxu + 1) + 7) // 8 AS w FROM c),
    j AS (SELECT 0 AS j UNION ALL SELECT 1),
    bits AS (
      SELECT DISTINCT e.user_id // p.w AS b,
             CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':' || j.j), 1, 8))::UBIGINT
                  % p.m AS BIGINT) AS pos
      FROM events e, p, j
    ),
    probes AS (
      SELECT 'absent_far' AS probe, mxe + 12345 AS key FROM c
      UNION ALL SELECT 'absent_near', mxe + 1 FROM c
      UNION ALL SELECT 'present_err', mnerr FROM c
      UNION ALL SELECT 'present_max', mxe FROM c
      UNION ALL SELECT 'present_min', mne FROM c
    ),
    ppos AS (
      SELECT pr.probe, pr.key, j.j,
             CAST(('0x' || substr(md5(CAST(pr.key AS VARCHAR) || ':' || j.j), 1, 8))::UBIGINT
                  % p.m AS BIGINT) AS pos
      FROM probes pr, p, j
    ),
    hits AS (
      SELECT probe, key, b
      FROM ppos JOIN bits USING (pos)
      GROUP BY probe, key, b
      HAVING count(DISTINCT j) = 2
    )
    SELECT pr.probe, CAST(pr.key AS BIGINT) AS key,
           CAST(8 AS INT) AS n_files_total,
           CAST((SELECT count(*) FROM hits h WHERE h.probe = pr.probe)
                AS INT) AS n_files_hit,
           (SELECT CAST(count(*) AS BIGINT) FROM events e
            WHERE e.event_id = pr.key) AS n_rows_found,
           true AS no_false_negative
    FROM probes pr
    """,
    doc="Bloom-filter file skipping — the data-skipping lever min/max "
    "stats CANNOT provide: files are bucketed by user_id, so every "
    "file's event_id range spans the whole table and stats pruning "
    "keeps all 8 files for any event_id point lookup; a per-file "
    "Bloom sidecar (m = 2·|rows| bits, k = 2 md5-derived hash "
    "positions — Parquet's bloom_filter / Iceberg's puffin shape) "
    "skips every file whose filter provably excludes the key. The "
    "sidecar is BUILT executor-side (one distinct over (bucket, "
    "position)), stored as parquet referenced from the manifest, and "
    "CONSULTED in-plan (position join + per-bucket k-match), with "
    "only the bounded (probe × bucket) hit list reaching the driver "
    "to choose files. Probes: three present keys (min / max / first "
    "error event) and two absent keys INSIDE every file's [min,max] "
    "envelope — the CDC-merge fast path where new keys should touch "
    "zero files. The oracle replays the exact bit math "
    "(md5-substring hashing is bit-equal across engines), so "
    "n_files_hit — including any false positive — is deterministic, "
    "and no_false_negative pins the pruned read returning every "
    "matching row. At 100 TB this is the difference between probing "
    "8 files and 0-1 files per upsert key.",
    tags=("lakehouse", "scan", "bloom", "events"),
)
def lake_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    # bounded scalars: table-level extrema that parameterize the bloom
    # geometry and the probe grid (one 1-row aggregate)
    c = ev.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("user_id").alias("mxu"),
        F.min("event_id").alias("mne"),
        F.max("event_id").alias("mxe"),
        F.min(F.when(F.col("event_type") == "error", F.col("event_id"))).alias(
            "mnerr"
        ),
    ).collect()[0]
    cnt, mxu = int(c["cnt"]), int(c["mxu"])
    mne, mxe, mnerr = int(c["mne"]), int(c["mxe"]), int(c["mnerr"])
    m_bits = 2 * cnt
    width = ((mxu + 1) + 7) // 8

    def positions(key_col, j_col):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            key_col.cast("string"), F.lit(":"), j_col.cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(m_bits),
        )

    base = staging.new_dir("crs_bloom_")
    try:
        log = TableLog(Path(base) / "t")
        log.append_range_bucketed(ev, "user_id", width=width, tag="ev")

        # build the sidecar executor-side: distinct (bucket, bit) pairs
        jj = F.explode(F.array(F.lit(0), F.lit(1))).alias("j")
        sidecar_dir = str(Path(base) / "bloom")
        (
            ev.select(
                F.floor(F.col("user_id") / width).cast("int").alias("b"),
                "event_id",
            )
            .select("b", "event_id", jj)
            .select("b", positions(F.col("event_id"), F.col("j")).alias("pos"))
            .distinct()
            .write.mode("overwrite")
            .parquet(sidecar_dir)
        )

        def attach(prev):
            return prev["files"], {
                "file_stats": prev.get("file_stats", []),
                "bloom": {
                    "col": "event_id",
                    "m": m_bits,
                    "k": 2,
                    "path": sidecar_dir,
                },
            }

        log.commit(build=attach, op="bloom-sidecar")

        probes = tables.local_table(
            spark,
            [
                ("absent_far", mxe + 12345),
                ("absent_near", mxe + 1),
                ("present_err", mnerr),
                ("present_max", mxe),
                ("present_min", mne),
            ],
            [("probe", "string"), ("key", "bigint")],
        )
        bloom = spark.read.parquet(sidecar_dir)
        ppos = probes.select(
            "probe", "key", F.explode(F.array(F.lit(0), F.lit(1))).alias("j")
        ).select("probe", "key", "j", positions(F.col("key"), F.col("j")).alias("pos"))
        hits = (
            ppos.join(bloom, "pos")
            .groupBy("probe", "key", "b")
            .agg(F.countDistinct("j").alias("nj"))
            .filter(F.col("nj") == 2)
            .select("probe", "key", "b")
        )
        # bounded metadata to the driver: <= |probes| x |files| hit pairs
        hit_rows = hits.collect()
        hit_buckets = sorted({int(r["b"]) for r in hit_rows})
        n_hit = {}
        for r in hit_rows:
            n_hit[r["probe"]] = n_hit.get(r["probe"], 0) + 1

        m = log.read_manifest()
        by_bucket = {}
        for e in m.get("file_stats", []):
            lo = e["stats"]["user_id"][0]
            by_bucket[lo // width] = e["path"]
        keep = [by_bucket[b] for b in hit_buckets if b in by_bucket]
        if keep:
            scanned = (
                spark.read.parquet(*keep)
                .withColumn("b", F.floor(F.col("user_id") / width).cast("int"))
                .join(F.broadcast(hits), ["b"])
                .filter(F.col("event_id") == F.col("key"))
                .groupBy("probe")
                .agg(F.count(F.lit(1)).alias("nf"))
            )
            found = {r["probe"]: int(r["nf"]) for r in scanned.collect()}
        else:
            found = {}
        truth = {
            r["probe"]: int(r["nt"])
            for r in probes.join(ev, probes["key"] == ev["event_id"], "left")
            .groupBy("probe")
            .agg(F.count("event_id").alias("nt"))
            .collect()
        }
        out_rows = [
            (
                p,
                k,
                8,
                n_hit.get(p, 0),
                found.get(p, 0),
                bool(found.get(p, 0) == truth.get(p, 0)),
            )
            for (p, k) in [
                ("absent_far", mxe + 12345),
                ("absent_near", mxe + 1),
                ("present_err", mnerr),
                ("present_max", mxe),
                ("present_min", mne),
            ]
        ]
        return tables.local_table(
            spark,
            out_rows,
            [
                ("probe", "string"),
                ("key", "bigint"),
                ("n_files_total", "int"),
                ("n_files_hit", "int"),
                ("n_rows_found", "bigint"),
                ("no_false_negative", "boolean"),
            ],
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_manifest_shard",
    oracle="""
    SELECT CAST(12 AS INT) AS n_landings,
           CAST(2 AS INT) AS files_per_landing,
           CAST(24 AS INT) AS full_entries_last,
           CAST(12 AS INT) AS sharded_refs_last,
           CAST(2 AS INT) AS sharded_delta_entries,
           CAST(count(*) AS BIGINT) AS n_rows,
           true AS snapshots_equal
    FROM events
    """,
    doc="Sharded manifests — the O(delta) commit protocol that fixes "
    "the measured metadata-scale failure mode (DESIGN.md: a "
    "full-list manifest grows ~162 B/file and every commit rewrites "
    "all of it; at 1M files that is ~160 MB of metadata PER COMMIT). "
    "The same 12 x 2-file landing sequence is committed through both "
    "protocols: the full-list log's final manifest carries all 24 "
    "file entries (and landing k rewrote 2k entries), while the "
    "sharded log's final manifest carries only 12 shard references "
    "and every commit wrote exactly one new 2-entry shard file — the "
    "Iceberg manifest-list / Delta checkpoint+delta shape, commit "
    "payload invariant in table size. Both snapshots must read back "
    "the identical row count (snapshots_equal also pins the "
    "fixed-point value checksum). The CDF streaming source resolves "
    "shard references when diffing versions, so sharded tables feed "
    "incrementally too, and rewrite_manifests compaction "
    "(compact_shards) keeps snapshot resolution O(total/shard_size) "
    "after long histories. All counts are protocol constants "
    "replayed by the oracle; measured shard/manifest bytes live in "
    "DESIGN.md's scale-evidence table.",
    tags=("lakehouse", "metadata", "events"),
)
def lake_manifest_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import shutil
    from pathlib import Path

    from chess_ratings_spark.operators.tablelog import TableLog

    # Deliberately NOT checkpointed (r16 reversal of the r15 eager
    # localCheckpoint): a checkpointed frame is RDD-backed, which
    # disqualifies every landing from the _land staging cache
    # (tablelog.py keys on analyzed plan + input FILES), so all 24
    # landings paid a fresh Spark write. Parquet-backed slices stage:
    # each of the 12 distinct slices is written once and the second
    # protocol's identical landing is a hardlink — 24 writes -> 12
    # writes + 12 links (fresh-session paired A/B: first run 7.8/9.8 ->
    # 6.9/8.9 s, warm reruns 5.1-6.6 -> 1.0-2.0 s; the repeated parquet
    # scans are covered by the load memo + page cache).
    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_shard_")
    try:
        full = TableLog(Path(base) / "full")
        shrd = TableLog(Path(base) / "sharded")
        for i in range(12):
            part = ev.filter(F.col("event_id") % 12 == i)
            full.append(part, n_files=2, tag=f"l{i:02d}")
            shrd.append_manifest_sharded(part, n_files=2, tag=f"l{i:02d}")
        mf = full.read_manifest()
        ms = shrd.read_manifest()
        last_shard = json.loads(Path(ms["manifest_shards"][-1]).read_text())
        a = full.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        b = shrd.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        return tables.local_row(
            spark,
            ("n_landings", 12, "int"),
            ("files_per_landing", 2, "int"),
            ("full_entries_last", len(mf["files"]), "int"),
            ("sharded_refs_last", len(ms["manifest_shards"]), "int"),
            ("sharded_delta_entries", len(last_shard["files"]), "int"),
            ("n_rows", int(a["n"]), "bigint"),
            (
                "snapshots_equal",
                bool(a["n"] == b["n"] and a["s"] == b["s"]),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "src_tablelog_format",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    live AS (
      SELECT * FROM ev
      WHERE NOT (event_type = 'error' AND user_id % 3 <> 2)
    )
    SELECT CAST((SELECT count(*) FROM live) AS BIGINT) AS n_live,
           CAST((SELECT sum(vc) FROM live) AS BIGINT) AS vc_live,
           CAST((SELECT count(*) FROM ev WHERE user_id % 3 = 0)
                AS BIGINT) AS n_v0,
           true AS matches_snapshot
    """,
    doc="TableLog as a STANDARD batch reader format — the third face "
    "of the Python DataSource surface (streaming reader: "
    "stream_cdf_source; 2PC writer: sink_pyds_twophase): "
    "spark.read.format('crs_tablelog') resolves the manifest (shard "
    "references included), plans one InputPartition per data file "
    "with its version's delete-vector paths attached, applies "
    "merge-on-read INSIDE the source executor-side (readers see live "
    "rows; DV mechanics stay an implementation detail — Delta's "
    "reader contract), and yields Arrow RecordBatches. Time travel "
    "is a plain reader option: version=0 returns the first append "
    "exactly. matches_snapshot pins the format read against the "
    "log's own snapshot+anti-join read (count and fixed-point "
    "checksum), and the oracle recomputes the truth from the logical "
    "input.",
    tags=("lakehouse", "source", "events"),
)
def src_tablelog_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from chess_ratings_spark.operators.tablelog import TableLog, _write_dv
    from chess_ratings_spark.sources.tablelog_batch import TableLogBatchSource

    try:
        spark.dataSource.register(TableLogBatchSource)
    except Exception:
        pass
    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_fmt_")
    try:
        log = TableLog(Path(base) / "t")
        log.append(ev.filter(F.col("user_id") % 3 == 0), n_files=4, tag="m0")
        log.append(ev.filter(F.col("user_id") % 3 == 1), n_files=4, tag="m1")
        dv = _write_dv(
            ev.filter(
                (F.col("event_type") == "error") & (F.col("user_id") % 3 != 2)
            ).select("event_id"),
            str(Path(base) / "dv"),
        )
        log.commit(
            log.read_manifest()["files"],
            op="delete-mor",
            extra={"delete_vectors": [dv]},
        )
        log.append(ev.filter(F.col("user_id") % 3 == 2), n_files=4, tag="m2")

        ddl = "event_id bigint, user_id bigint, event_type string, vc bigint"

        def fmt(version=None):
            r = (
                spark.read.format("crs_tablelog")
                .option("path", str(Path(base) / "t"))
                .option("schema", ddl)
            )
            if version is not None:
                r = r.option("version", str(version))
            return r.load()

        live = fmt().agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        n_v0 = fmt(version=0).count()
        # reference read: the log's own snapshot + DV anti-join
        ref = log.snapshot_mor(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        return tables.local_row(
            spark,
            ("n_live", int(live["n"]), "bigint"),
            ("vc_live", int(live["s"]), "bigint"),
            ("n_v0", int(n_v0), "bigint"),
            (
                "matches_snapshot",
                bool(live["n"] == ref["n"] and live["s"] == ref["s"]),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "scan_pyds_pushdown",
    oracle="""
    WITH m AS (SELECT max(event_id) AS mxid FROM events),
    p AS (
      SELECT ((mxid + 1) + 7) // 8 AS w,
             (mxid + 1) // 4 AS lo,
             ((mxid + 1) * 2) // 5 AS hi
      FROM m
    ),
    bk AS (
      SELECT event_id // p.w AS b, p.lo AS lo, p.hi AS hi,
             min(event_id) AS mn, max(event_id) AS mx
      FROM events, p GROUP BY 1, p.lo, p.hi
    )
    SELECT CAST(8 AS INT) AS files_total,
           CAST(count(*) FILTER (WHERE mn <= hi AND mx >= lo) AS INT)
             AS files_planned,
           CAST(2 AS INT) AS filters_retained,
           (SELECT CAST(count(*) AS BIGINT) FROM events e, p
            WHERE e.event_id BETWEEN p.lo AND p.hi) AS n_rows,
           (SELECT CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            FROM events e, p
            WHERE e.event_id BETWEEN p.lo AND p.hi) AS vc_sum,
           true AS pruned_equals_full
    FROM bk
    """,
    doc="Filter pushdown through the Python DataSource API (Spark "
    "4.1 pushFilters): a BETWEEN predicate on the standard "
    ".filter(...) call reaches the crs_tablelog reader at planning "
    "time, which evaluates the comparisons against the manifest's "
    "per-file [min,max] stats and PLANS only overlapping files (2 of "
    "8 for the 25-40%% id range) — manifest-stats skipping surfaced "
    "through the engine's own pushdown channel instead of a custom "
    "reader knob. Both contract halves are certified: the reader "
    "hands every filter back to Spark (stats skipping is a superset, "
    "the exact predicate stays in the plan — filters_retained), and "
    "the pruned read returns exactly the full scan's rows "
    "(pruned_equals_full pins count and fixed-point checksum). The "
    "oracle recomputes bucket intervals, overlap, and the range "
    "aggregate from the logical input.",
    tags=("lakehouse", "scan", "source", "events"),
)
def scan_pyds_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.sources.tablelog_batch import (
        TableLogBatchSource,
        TableLogPushdownReader,
    )

    try:
        spark.dataSource.register(TableLogBatchSource)
    except Exception:
        pass
    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    mxid = int(ev.agg(F.max("event_id")).collect()[0][0])  # bounded scalar
    width = ((mxid + 1) + 7) // 8
    lo, hi = (mxid + 1) // 4, ((mxid + 1) * 2) // 5
    base = staging.new_dir("crs_push_")
    try:
        log = TableLog(Path(base) / "t")
        log.append_range_bucketed(ev, "event_id", width=width, tag="ev")
        ddl = "event_id bigint, user_id bigint, vc bigint"

        # end-to-end: the standard reader API with a plain .filter().
        # Spark 4.1 gates Python-source pushdown behind a flag (planning
        # calls into Python); runtime-settable SQL conf
        with conf_scope(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
            pruned = (
                spark.read.format("crs_tablelog")
                .option("path", str(Path(base) / "t"))
                .option("schema", ddl)
                .option("pushdown", "true")
                .load()
                .filter(F.col("event_id").between(lo, hi))
            )
            got = pruned.agg(
                F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
            ).collect()[0]
        full = ev.filter(F.col("event_id").between(lo, hi)).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]

        # reader-level certification of the pushdown contract
        cols = [f.strip().split()[0] for f in ddl.split(",")]
        rdr = TableLogPushdownReader(str(Path(base) / "t"), "event_id", cols, None)
        flts = [
            GreaterThanOrEqual(("event_id",), lo),
            LessThanOrEqual(("event_id",), hi),
        ]
        retained = list(rdr.pushFilters(list(flts)))
        n_planned = len(rdr.partitions())
        n_total = len(log.read_manifest()["files"])
        return tables.local_row(
            spark,
            ("files_total", n_total, "int"),
            ("files_planned", n_planned, "int"),
            ("filters_retained", len(retained), "int"),
            ("n_rows", int(got["n"]), "bigint"),
            ("vc_sum", int(got["s"]), "bigint"),
            (
                "pruned_equals_full",
                bool(got["n"] == full["n"] and got["s"] == full["s"]),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_branch_wap",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT)
             AS main_rows_before,
           CAST(count(*) AS BIGINT) AS branch_rows,
           CAST(count(*) FILTER (WHERE value IS NULL
                                 OR floor(value * 100) < 0) AS BIGINT)
             AS n_violations,
           CAST(count(*) AS BIGINT) AS main_rows_after,
           CAST(1 AS INT) AS published_version,
           CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT)
             AS cdf_insert_rows,
           true AS stale_publish_rejected
    FROM events
    """,
    doc="Write-Audit-Publish on the manifest log "
    "(operators/tablelog.py::create_branch/fast_forward — Iceberg's "
    "branch refs + fast_forward procedure reduced to their "
    "mechanism): main v0 holds the even-user half of events; a branch "
    "forks at v0 and stages the odd-user half (data files land in the "
    "shared immutable data dir, the manifest publishes only in the "
    "branch log); the audit (null / negative-value constraint check) "
    "runs against the BRANCH snapshot; main is then read again and "
    "must still see only v0 (main_rows_before — the isolation "
    "property WAP exists for); publish is a fast-forward commit of "
    "the branch head as main v1, which the change feed replays as "
    "exactly the staged rows (cdf_insert_rows). A second branch also "
    "forked at v0 then tries to publish AFTER main advanced: the "
    "fast-forward condition fails and the commit is REJECTED "
    "(stale_publish_rejected) — diverged branches must rebase, never "
    "silently merge file lists. All driver-side state is manifest "
    "metadata; every read is a pruned scan of one manifest's files.",
    tags=("lakehouse", "branch", "events"),
)
def lake_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import (
        CommitConflict,
        TableLog,
    )

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_wap_")
    try:
        log = TableLog(base)
        log.append(ev.filter(F.col("user_id") % 2 == 0), n_files=4, tag="even")

        # WRITE: stage the odd half on a branch
        br = log.create_branch("audit_stage")
        br.append(ev.filter(F.col("user_id") % 2 == 1), n_files=4, tag="odd")
        stale = log.create_branch("stale")  # second fork at v0

        # AUDIT: constraint check against the branch snapshot
        branch_snap = br.snapshot(spark)
        audit = branch_snap.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.col("value").isNull() | (F.col("vc") < 0), 1)
            ).alias("bad"),
        ).collect()[0]

        # isolation: main still serves v0 while the branch is staged
        main_before = int(log.snapshot(spark).count())

        # PUBLISH: fast-forward main to the audited branch head
        published = log.fast_forward(br, "audit_stage")
        main_after = int(log.snapshot(spark).count())
        cdf_inserts = int(
            log.changes_between(spark, 0, published)
            .filter(F.col("_change_type") == "insert")
            .count()
        )

        # a branch whose fork point main has passed must be rejected
        try:
            log.fast_forward(stale, "stale")
            rejected = False
        except CommitConflict:
            rejected = True

        return tables.local_row(
            spark,
            ("main_rows_before", main_before, "bigint"),
            ("branch_rows", int(audit["n"]), "bigint"),
            ("n_violations", int(audit["bad"]), "bigint"),
            ("main_rows_after", main_after, "bigint"),
            ("published_version", int(published), "int"),
            ("cdf_insert_rows", cdf_inserts, "bigint"),
            ("stale_publish_rejected", rejected, "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_table_history",
    oracle="""
    WITH s AS (
      SELECT user_id % 2 AS half, user_id % 5 AS m5 FROM events
    )
    SELECT * FROM (VALUES
      (0, 'append', true, 4,
         (SELECT count(*) FROM s WHERE half = 0)),
      (1, 'append', true, 8,
         (SELECT count(*) FROM s)),
      (2, 'delete-mor', true, 8,
         (SELECT count(*) FROM s WHERE m5 <> 0)),
      (3, 'optimize', false,
         (SELECT CAST(greatest(1, ceil(count(*) / 50000.0)) AS INT)
          FROM s WHERE m5 <> 0),
         (SELECT count(*) FROM s WHERE m5 <> 0))
    ) AS h(version, op, data_change, n_files, n_live_rows)
    ORDER BY version
    """,
    doc="DESCRIBE HISTORY — the table-audit verb every lakehouse "
    "exposes: the commit log rendered as a queryable frame (version, "
    "operation, data_change flag, file count, live row count per "
    "snapshot) for a table driven through append → append → MOR "
    "delete → OPTIMIZE. The metadata columns come straight from the "
    "manifests (bounded driver state — the Delta/Iceberg contract); "
    "the live row count per version is a real MOR-aware snapshot "
    "read. The oracle replays every row from the logical input plus "
    "the protocol's deterministic laws (repartition(n) on "
    "non-empty data writes exactly n files; OPTIMIZE at a 50k-row "
    "target writes ceil(live/50k) files — 1 at sf0.01, 2 at sf0.1, "
    "recomputed by the oracle rather than hardcoded [the hardcoded-1 "
    "variant was the round-14 sf0.1 sweep's single catch]; the delete "
    "is metadata-only so v2 keeps v1's 8 files). data_change=false "
    "on OPTIMIZE is the flag incremental consumers key on.",
    tags=("lakehouse", "events", "history"),
)
def lake_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog, _write_dv

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_hist_")
    try:
        log = TableLog(base)
        log.append(ev.filter(F.col("user_id") % 2 == 0), n_files=4, tag="a")
        log.append(ev.filter(F.col("user_id") % 2 == 1), n_files=4, tag="b")
        # MOR delete: drop user_id%5==0 via a delete-vector sidecar
        dv = _write_dv(
            ev.filter(F.col("user_id") % 5 == 0).select("event_id"),
            staging.new_dir("crs_hist_dv_") + "/keys",
        )
        log.commit(
            log.read_manifest()["files"],
            op="delete-mor",
            extra={"delete_vectors": [dv]},
        )
        log.optimize(spark, target_rows_per_file=50_000)

        rows = []
        for v in log.versions():
            m = log.read_manifest(v)
            snap = log.snapshot_mor(spark, version=v)
            op = m["op"].split("-to-")[0] if m["op"].startswith("restore") else m["op"]
            rows.append(
                (
                    int(v),
                    op,
                    bool(m["data_change"]),
                    len(m["files"]),
                    int(snap.count()),
                )
            )
        return tables.local_table(
            spark,
            rows,
            [
                ("version", "int"),
                ("op", "string"),
                ("data_change", "boolean"),
                ("n_files", "int"),
                ("n_live_rows", "bigint"),
            ],
        ).orderBy("version")
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_restore_version",
    oracle="""
    WITH s AS (SELECT user_id % 2 AS half FROM events)
    SELECT CAST(2 AS INT) AS restored_version,
           CAST((SELECT count(*) FROM s) AS BIGINT) AS pre_restore_rows,
           CAST((SELECT count(*) FROM s WHERE half = 0) AS BIGINT)
             AS post_restore_rows,
           true AS live_equals_v0,
           CAST((SELECT count(*) FROM s) AS BIGINT) AS time_travel_v1_rows,
           CAST((SELECT count(*) FROM s WHERE half = 1) AS BIGINT)
             AS cdf_deleted_rows,
           true AS history_preserved
    FROM (VALUES (1)) one(x)
    """,
    doc="RESTORE TABLE ... TO VERSION (Delta RESTORE / Iceberg "
    "rollback-to-snapshot): after a bad append (v1), "
    "operators/tablelog.py::restore commits v0's exact content as v2 "
    "— history is never rewritten (v1 stays time-travelable for "
    "forensics: time_travel_v1_rows), the restore is itself an "
    "auditable CAS commit, and it IS a data change: the change feed "
    "replays it as deletes of exactly the rows the bad version added "
    "(cdf_deleted_rows — changes_between emits removed-file rows as "
    "deletes, the Delta CDF remove-action shape; this history has no "
    "delete-vector sidecars, keeping removed-file semantics exact). "
    "live_equals_v0 pins the restored state checksum-equal to the "
    "v0 snapshot. The oracle recomputes every census from the "
    "logical input.",
    tags=("lakehouse", "time-travel", "events"),
)
def lake_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_restore_")
    try:
        log = TableLog(base)
        log.append(ev.filter(F.col("user_id") % 2 == 0), n_files=4, tag="good")
        log.append(ev.filter(F.col("user_id") % 2 == 1), n_files=4, tag="bad")
        pre = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]

        restored_v = log.restore(0)

        post = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        v0 = log.snapshot(spark, version=0).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        tt_v1 = int(log.snapshot(spark, version=1).count())
        cdf_del = int(
            log.changes_between(spark, 1, restored_v)
            .filter(F.col("_change_type") == "delete")
            .count()
        )
        m = log.read_manifest(restored_v)
        history_ok = (
            log.versions() == [0, 1, 2]
            and int(m.get("restored_from", -1)) == 0
            and bool(m["data_change"])
        )
        return tables.local_row(
            spark,
            ("restored_version", int(restored_v), "int"),
            ("pre_restore_rows", int(pre["n"]), "bigint"),
            ("post_restore_rows", int(post["n"]), "bigint"),
            (
                "live_equals_v0",
                bool(post["n"] == v0["n"] and post["s"] == v0["s"]),
                "boolean",
            ),
            ("time_travel_v1_rows", tt_v1, "bigint"),
            ("cdf_deleted_rows", cdf_del, "bigint"),
            ("history_preserved", bool(history_ok), "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_constraints_enforce",
    oracle="""
    WITH t AS (
      SELECT user_id % 2 AS half, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ), ok AS (
      SELECT * FROM t
      WHERE event_type <> 'error' AND vc BETWEEN 1 AND 40000
    )
    SELECT CAST(2 AS INT) AS n_versions,
           CAST(1 AS INT) AS n_rejected_txns,
           CAST((SELECT count(*) FROM t WHERE half = 1
                 AND NOT (event_type <> 'error'
                          AND vc BETWEEN 1 AND 40000)) AS BIGINT)
             AS n_violations_rejected,
           CAST((SELECT count(*) FROM ok) AS BIGINT) AS n_rows,
           CAST((SELECT sum(vc) FROM ok) AS BIGINT) AS value_centi_sum
    """,
    doc="Write-path CHECK-constraint enforcement on the manifest log — "
    "the Delta `ALTER TABLE ADD CONSTRAINT CHECK(...)` contract: a "
    "transaction either satisfies every table constraint on EVERY row "
    "or commits nothing (val_constraints is the read-side audit; this "
    "is the gate that keeps bad rows from ever becoming a version). "
    "Constraints here: event_type <> 'error' AND value_centi in "
    "[1, 40000]. A pre-cleaned half commits (v0); the raw second half "
    "carries violating rows, so its append is rejected WHOLE — the "
    "log stays put, nothing partial lands (the CAS commit makes "
    "reject-before-publish atomic by construction); the cleaned "
    "second half then commits (v1). The violation check is ONE "
    "distributed count-if aggregate over the batch (predicates run "
    "executor-side next to the scan; only the 1-row violation count "
    "reaches the driver) — at 100 TB the gate costs one pass over "
    "the batch being written, never a table scan. Census: versions "
    "committed, rejected txns, violating rows in the rejected batch, "
    "and the settled table's row count + checksum, all replayed "
    "logically by the oracle.",
    tags=("lakehouse", "validation", "events"),
)
def lake_constraints_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 2).alias("half"),
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    constraint = (F.col("event_type") != "error") & F.col("vc").between(1, 40000)

    def violations(batch: DataFrame) -> int:
        # one distributed aggregate; only the scalar reaches the driver
        return int(
            batch.agg(
                F.count_if(~constraint).alias("n_bad")
            ).collect()[0]["n_bad"]
        )

    base = staging.new_dir("crs_constraints_")
    try:
        log = TableLog(base)
        n_rejected = 0
        n_viol_rejected = 0
        clean0 = ev.filter(F.col("half") == 0).filter(constraint)
        assert violations(clean0) == 0
        log.append(clean0, n_files=4, tag="half0")
        raw1 = ev.filter(F.col("half") == 1)
        n_bad = violations(raw1)
        if n_bad > 0:  # whole-transaction reject: nothing published
            n_rejected += 1
            n_viol_rejected += n_bad
        else:  # pragma: no cover - fixture always carries violations
            log.append(raw1, n_files=4, tag="half1-raw")
        clean1 = raw1.filter(constraint)
        assert violations(clean1) == 0
        log.append(clean1, n_files=4, tag="half1")
        n_versions = log.latest_version() + 1
        settled = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        return tables.local_table(
            spark,
            [
                (
                    int(n_versions),
                    int(n_rejected),
                    int(n_viol_rejected),
                    int(settled["n"]),
                    int(settled["s"]),
                )
            ],
            [
                ("n_versions", "int"),
                ("n_rejected_txns", "int"),
                ("n_violations_rejected", "bigint"),
                ("n_rows", "bigint"),
                ("value_centi_sum", "bigint"),
            ],
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "sql_merge_evolution",
    oracle="""
    WITH src AS (
      SELECT c_custkey, 'UPSERTED' AS c_mktsegment,
             c_acctbal + 100.0 AS c_acctbal,
             CASE WHEN c_acctbal > 5000.0 THEN 'GOLD'
                  ELSE 'SILVER' END AS loyalty_tier
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 'NEWROW', 0.0, 'STARTER'
      FROM customer WHERE c_custkey % 97 = 0
    ), merged AS (
      SELECT CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                  ELSE t.c_mktsegment END AS c_mktsegment,
             CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                  ELSE t.c_acctbal END AS c_acctbal,
             CASE WHEN s.c_custkey IS NOT NULL THEN s.loyalty_tier
                  ELSE NULL END AS loyalty_tier
      FROM (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer) t
      FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    )
    SELECT coalesce(loyalty_tier, '(none)') AS loyalty_tier,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM merged GROUP BY 1 ORDER BY 1
    """,
    doc="MERGE WITH SCHEMA EVOLUTION (the Spark 4 / Delta "
    "automatic-evolution clause): the source carries a column the "
    "target never had (loyalty_tier) — the merge WIDENS the target "
    "schema in-plan (typed NULL projection; on the manifest-log "
    "table old files simply lack the column, Parquet schema-merge "
    "semantics — no data rewrite), pre-existing unmatched rows read "
    "NULL for it, matched rows take the source's value, and inserts "
    "land fully populated. Same update/insert key pattern as "
    "merge_upsert (every 7th customer updates, every 97th inserts) "
    "so the two queries isolate exactly the evolution delta. Census "
    "by evolved column: NULL bucket = untouched rows, GOLD/SILVER = "
    "updated, STARTER = inserted. One full-outer shuffle join on the "
    "key, like any MERGE.",
    tags=("lakehouse", "merge", "spark4"),
)
def sql_merge_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("UPSERTED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.when(F.col("c_acctbal") > 5000.0, "GOLD")
        .otherwise("SILVER")
        .alias("loyalty_tier"),
    )
    inserts = c.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.lit("NEWROW").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("STARTER").alias("loyalty_tier"),
    )
    merged = maintenance.merge_upsert_evolve(
        c,
        updates.unionByName(inserts),
        key="c_custkey",
        update_cols=["c_mktsegment", "c_acctbal"],
    )
    return (
        merged.groupBy(
            F.coalesce("loyalty_tier", F.lit("(none)")).alias("loyalty_tier")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("loyalty_tier")
    )


@register(
    "lake_checkpoint",
    oracle="""
    SELECT CAST(8 AS INT) AS shards_total,
           CAST(2 AS INT) AS shards_read_tail,
           CAST(12 AS INT) AS ckpt_files,
           CAST(count(*) AS BIGINT) AS n_rows,
           true AS ckpt_equals_full,
           true AS fallback_after_rewrite
    FROM events
    """,
    doc="Log checkpoint — Delta's checkpoint + tail-JSON replay, "
    "applied to the sharded-manifest protocol where this log's "
    "metadata stops being O(1): without it, resolving a snapshot "
    "after N landings reads N shard files (thousands of metadata "
    "gets on a long-lived 100 TB table). write_checkpoint "
    "materializes the resolved file inventory as ONE parquet "
    "sidecar plus an atomically-replaced _last_checkpoint pointer "
    "(never a commit: no version changes, readers that ignore it "
    "see identical data), and resolve_files_via_checkpoint then "
    "reads checkpoint + only the shards committed AFTER it. Here 6 "
    "landings are checkpointed, 2 more land, and the checkpointed "
    "resolution reads 2 of 8 shard references (census replayed by "
    "the oracle) while returning the exact full-resolution file "
    "set (ckpt_equals_full pins count + value checksum equality). "
    "A rewrite-manifests compaction then drops the covered shards; "
    "the reader detects the stale checkpoint and falls back to "
    "full resolution (fallback_after_rewrite) — the same "
    "invalidate-then-rewrite discipline Delta applies after "
    "metadata-rewriting commits. The checkpoint also moves per-file "
    "stats pruning from a driver loop to a Spark filter over the "
    "checkpoint parquet (snapshot_pruned_ckpt; tests/test_tablelog)."
    " Counts are protocol constants; n_rows is the logical input.",
    tags=("lakehouse", "metadata", "time-travel", "events"),
)
def lake_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    # Deliberately NOT checkpointed (r16, same reversal as
    # lake_manifest_shard): RDD-backed slices are excluded from the
    # _land staging cache, so the r15 checkpoint silently forced all 8
    # landings onto the fresh-write path. Parquet-backed slices stage —
    # first run is wall-flat (the 8 rescans ride the load memo + page
    # cache), in-session reruns land all 8 by hardlink (paired A/B:
    # 2.7-3.1 -> 1.1-1.5 s warm).
    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    base = staging.new_dir("crs_ckpt_")
    try:
        log = TableLog(base)
        for i in range(6):
            log.append_manifest_sharded(
                ev.filter(F.col("event_id") % 8 == i), n_files=2, tag=f"l{i}"
            )
        lc = log.write_checkpoint(spark)
        for i in (6, 7):
            log.append_manifest_sharded(
                ev.filter(F.col("event_id") % 8 == i), n_files=2, tag=f"l{i}"
            )
        files, census = log.resolve_files_via_checkpoint(spark)
        # the checkpoint-resolved list is what is under test, so it is
        # scanned as is, with the schema the log recorded
        chk = log._scan(spark, files, log.read_manifest()).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        ref = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        log.compact_shards()  # rewrites the shard list -> checkpoint stale
        files2, census2 = log.resolve_files_via_checkpoint(spark)
        n2 = log._scan(spark, files2, log.read_manifest()).count()
        return tables.local_row(
            spark,
            ("shards_total", int(census["shards_total"]), "int"),
            ("shards_read_tail", int(census["shards_read"]), "int"),
            ("ckpt_files", int(lc["n_files"]), "int"),
            ("n_rows", int(chk["n"]), "bigint"),
            ("ckpt_equals_full",
             bool(census["used_checkpoint"] and chk["n"] == ref["n"]
                  and chk["s"] == ref["s"]), "boolean"),
            ("fallback_after_rewrite",
             bool((not census2["used_checkpoint"]) and n2 == ref["n"]),
             "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_update_cow",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    hit AS (
      SELECT count(*) AS n_upd
      FROM e WHERE user_id BETWEEN 40 AND 59 AND event_type = 'click'
    ),
    buckets AS (
      -- one file per user_id//25 range bucket, carrying exact
      -- [min,max] stats: a file is rewritten iff its recorded range
      -- overlaps the prune range [40,59] -- replayed here verbatim
      SELECT user_id // 25 AS b, min(user_id) AS mn, max(user_id) AS mx
      FROM e GROUP BY user_id // 25
    ),
    fc AS (
      SELECT count(*) AS n_total,
             count(*) FILTER (WHERE mn <= 59 AND mx >= 40) AS n_touch
      FROM buckets
    ),
    tot AS (SELECT count(*) AS n, sum(vc) AS s FROM e)
    SELECT CAST(tot.n AS BIGINT) AS n_rows,
           CAST(hit.n_upd AS BIGINT) AS n_updated,
           CAST(tot.s AS BIGINT) AS vc_v0,
           CAST(tot.s + 1000 * hit.n_upd AS BIGINT) AS vc_after,
           CAST(fc.n_total AS INT) AS files_total,
           CAST(fc.n_touch AS INT) AS files_rewritten,
           CAST(fc.n_total - fc.n_touch AS INT) AS files_carried,
           true AS carried_physically_identical,
           true AS time_travel_v0_intact
    FROM tot, hit, fc
    """,
    doc="Copy-on-write UPDATE with stats-pruned file targeting "
    "(TableLog.update_cow — Delta/Iceberg UPDATE..WHERE without "
    "deletion vectors): the table lands range-bucketed on user_id "
    "(one file per 25-wide bucket, [min,max] stats in the manifest), "
    "then UPDATE .. WHERE user_id BETWEEN 40 AND 59 AND "
    "event_type='click' SET vc = vc + 1000 rewrites ONLY the files "
    "whose recorded range overlaps [40,59]; every other file is "
    "carried into the new manifest byte-identical (asserted: the "
    "carried paths are exactly v0's non-overlapping paths). The "
    "oracle derives files_rewritten by replaying the stats-overlap "
    "rule on the data (never a hardcoded protocol constant — files "
    "counts must hold at ANY sf). Post-update census and the "
    "unchanged time-travel-to-v0 checksum are both oracle-checked. "
    "At 100 TB this is the difference between rewriting ~1/6 of a "
    "table and rewriting all of it; the untouched 5/6 move as "
    "manifest entries only.",
    tags=("lakehouse", "update", "time-travel", "events"),
)
def lake_update_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    # shared projection: MUST match the prestaged fixture's base data,
    # so take it from _mor_events instead of re-declaring (r13 ADVICE)
    ev = _mor_events(spark, sf_dir)
    base = staging.new_dir("crs_cow_")
    try:
        log = TableLog(base)
        log.append_range_bucketed(
            ev,
            "user_id",
            25,
            tag="base",
            prestaged=_mor_base_prestaged(spark, sf_dir),
        )
        m0 = log.read_manifest()
        v0 = log.snapshot(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]

        res = log.update_cow(
            spark,
            "user_id BETWEEN 40 AND 59 AND event_type = 'click'",
            {"vc": "vc + 1000"},
            prune_col="user_id",
            prune_lo=40,
            prune_hi=59,
        )
        m1 = log.read_manifest()
        # both read after the update's commit: one action
        after, tt = tables.collect_aggs(
            *[
                log.snapshot(spark, v).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
                )
                for v in (None, 0)
            ]
        )

        carried = set(m1["files"]) & set(m0["files"])
        untouched_expected = {
            e["path"]
            for e in m0.get("file_stats", [])
            if not (e["stats"]["user_id"][0] <= 59 and e["stats"]["user_id"][1] >= 40)
        }
        return tables.local_row(
            spark,
            ("n_rows", int(after["n"]), "bigint"),
            ("n_updated", int(res["n_matched"]), "bigint"),
            ("vc_v0", int(v0["s"]), "bigint"),
            ("vc_after", int(after["s"]), "bigint"),
            ("files_total", len(m0["files"]), "int"),
            ("files_rewritten", int(res["files_rewritten"]), "int"),
            ("files_carried", int(res["files_carried"]), "int"),
            (
                "carried_physically_identical",
                bool(carried == untouched_expected and len(carried) == res["files_carried"]),
                "boolean",
            ),
            (
                "time_travel_v0_intact",
                bool(tt["n"] == v0["n"] and tt["s"] == v0["s"] and after["n"] == v0["n"]),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_update_mor",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    hit AS (
      SELECT count(*) AS n_upd FROM e
      WHERE user_id BETWEEN 40 AND 59 AND event_type = 'click'
    ),
    tot AS (SELECT count(*) AS n, sum(vc) AS s FROM e)
    SELECT CAST(tot.n AS BIGINT) AS n_rows,
           CAST(hit.n_upd AS BIGINT) AS n_updated,
           CAST(tot.s AS BIGINT) AS vc_v0,
           CAST(tot.s + 1000 * hit.n_upd AS BIGINT) AS vc_after,
           CAST(0 AS INT) AS files_rewritten,
           -- repartition(1) => exactly one appended file WHEN anything
           -- matched; a no-match update commits nothing (derived, not
           -- hardcoded: at sf0.001 the user_id domain misses the
           -- predicate range entirely)
           CAST(CASE WHEN hit.n_upd > 0 THEN 1 ELSE 0 END AS INT)
             AS files_appended,
           true AS originals_untouched,
           true AS raw_bytes_still_stale,
           true AS time_travel_v0_intact,
           true AS cdf_delete_plus_insert
    FROM tot, hit
    """,
    doc="Merge-on-read UPDATE..WHERE via FILE-SCOPED deletion vectors "
    "(TableLog.update_mor — Delta's DV model; the twin of "
    "lake_update_cow's copy-on-write): the matched OLD row versions "
    "are masked by a parquet artifact of (file, key) pairs and the "
    "NEW versions appended — ZERO existing files rewritten "
    "(originals_untouched asserts v0's file set survives verbatim in "
    "v1; raw_bytes_still_stale proves the old bytes still hold the "
    "pre-update values). Key-global DVs cannot express this: masking "
    "an updated key would also mask its re-appended new version. "
    "snapshot_mor applies the pairs with one scan + one broadcast "
    "anti-join on (_metadata.file_path, keys). files_appended=1 is "
    "protocol-constant by construction (n_files=1 repartitions the "
    "matched rows into exactly one file at ANY sf — not a "
    "scale-dependent census). The change feed replays the commit as "
    "delete(old rows) + insert(new rows), both counted against "
    "n_updated. At 100 TB this writes O(matched rows) instead of "
    "update_cow's O(touched files): the 0.01%-of-rows update costs "
    "0.01% of the data.",
    tags=("lakehouse", "update", "time-travel", "events"),
)
def lake_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    # shared projection: MUST match the prestaged fixture's base data,
    # so take it from _mor_events instead of re-declaring (r13 ADVICE)
    ev = _mor_events(spark, sf_dir)
    base = staging.new_dir("crs_umor_")
    try:
        log = TableLog(base)
        log.append_range_bucketed(
            ev,
            "user_id",
            25,
            tag="base",
            prestaged=_mor_base_prestaged(spark, sf_dir),
        )
        m0 = log.read_manifest()
        v0 = log.snapshot_mor(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]

        res = log.update_mor(
            spark,
            "user_id BETWEEN 40 AND 59 AND event_type = 'click'",
            {"vc": "vc + 1000"},
            ["event_id"],
        )
        m1 = log.read_manifest()
        after = log.snapshot_mor(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        tt = log.snapshot_mor(spark, 0).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        # the old bytes are untouched: raw scan of v0's files still
        # sums to the PRE-update checksum
        raw = log.snapshot(spark, m0["version"]).agg(
            F.sum("vc").alias("s")
        ).collect()[0]
        if res["n_matched"]:
            feed = log.changes_between(spark, 0, res["version"])
            cdf = {
                r["_change_type"]: r["n"]
                for r in feed.groupBy("_change_type").agg(
                    F.count(F.lit(1)).alias("n")
                ).collect()
            }
        else:
            # no match at this sf -> no commit, no change feed: the
            # delete/insert counts (0 == 0 == n_matched) hold trivially
            cdf = {}
        return tables.local_row(
            spark,
            ("n_rows", int(after["n"]), "bigint"),
            ("n_updated", int(res["n_matched"]), "bigint"),
            ("vc_v0", int(v0["s"]), "bigint"),
            ("vc_after", int(after["s"]), "bigint"),
            ("files_rewritten", int(res["files_rewritten"]), "int"),
            ("files_appended", int(res["files_appended"]), "int"),
            (
                "originals_untouched",
                bool(set(m0["files"]) <= set(m1["files"])),
                "boolean",
            ),
            ("raw_bytes_still_stale", bool(raw["s"] == v0["s"]), "boolean"),
            (
                "time_travel_v0_intact",
                bool(tt["n"] == v0["n"] and tt["s"] == v0["s"] and after["n"] == v0["n"]),
                "boolean",
            ),
            (
                "cdf_delete_plus_insert",
                bool(
                    cdf.get("delete", 0) == res["n_matched"]
                    and cdf.get("insert", 0) == res["n_matched"]
                ),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_merge_mor",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    upd AS (
      SELECT count(*) AS n, coalesce(sum(vc + 5000), 0) AS s FROM e
      WHERE event_type = 'view' AND user_id % 15 = 2
    ),
    ins AS (
      SELECT count(*) AS n, coalesce(sum(vc + 7), 0) AS s FROM e
      WHERE event_type = 'purchase' AND user_id % 15 = 3
    ),
    tot AS (SELECT count(*) AS n, sum(vc) AS s FROM e),
    upd_old AS (
      SELECT coalesce(sum(vc), 0) AS s FROM e
      WHERE event_type = 'view' AND user_id % 15 = 2
    )
    SELECT CAST(tot.n + ins.n AS BIGINT) AS n_rows,
           CAST(upd.n AS BIGINT) AS n_updated,
           CAST(ins.n AS BIGINT) AS n_inserted,
           CAST(tot.s AS BIGINT) AS vc_v0,
           CAST(tot.s - upd_old.s + upd.s + ins.s AS BIGINT) AS vc_after,
           CAST(0 AS INT) AS files_rewritten,
           CAST(1 AS INT) AS files_appended,
           true AS originals_untouched,
           true AS time_travel_v0_intact,
           true AS cdf_delete_plus_insert
    FROM tot, upd, ins, upd_old
    """,
    doc="Merge-on-read MERGE INTO (TableLog.merge_mor — Delta MERGE "
    "with deletion vectors, upsert shape): matched target rows are "
    "masked by a file-scoped (file, key) DV artifact and the ENTIRE "
    "source batch lands as ONE appended file — zero existing files "
    "rewritten; the MOR family completion (delete_mor masks, "
    "update_mor masks+re-appends matched, merge_mor masks matched + "
    "appends matched-updates AND brand-new keys in one commit). The "
    "source mixes updates (existing event_ids with vc+5000) and "
    "inserts (offset event_ids with vc+7); both source-key and "
    "matched-target-key uniqueness are contract-checked in-verb. "
    "files_appended=1 is protocol-constant (n_files=1 repartitions "
    "the source into exactly one file at any sf). The change feed "
    "replays delete(masked old versions) + insert(appended source) "
    "through the generic scoped-DV CDF path — asserted against the "
    "census counts. At 100 TB a daily upsert of 0.01% of keys writes "
    "O(source) bytes instead of copy-on-write's O(touched files).",
    tags=("lakehouse", "merge", "time-travel", "events"),
)
def lake_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    # shared projection: MUST match the prestaged fixture's base data,
    # so take it from _mor_events instead of re-declaring (r13 ADVICE)
    ev = _mor_events(spark, sf_dir)
    base = staging.new_dir("crs_mmor_")
    try:
        log = TableLog(base)
        log.append_range_bucketed(
            ev,
            "user_id",
            25,
            tag="base",
            prestaged=_mor_base_prestaged(spark, sf_dir),
        )
        m0 = log.read_manifest()
        v0 = log.snapshot_mor(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]

        # Synthetic insert keys must live above every target key at ANY
        # sf, or an insert would silently collide into an update and
        # diverge from the oracle (round-12 ADVICE): derive the offset
        # from max(event_id) — a bounded 1-row census, cached per
        # session+sf — instead of a constant that sf could outgrow.
        key_offset = _mor_max_event_id(spark, sf_dir) + 1
        updates = ev.filter(
            "event_type = 'view' AND user_id % 15 = 2"
        ).withColumn("vc", F.col("vc") + 5000)
        inserts = ev.filter(
            "event_type = 'purchase' AND user_id % 15 = 3"
        ).select(
            (F.col("event_id") + key_offset).alias("event_id"),
            "user_id",
            "event_type",
            (F.col("vc") + 7).alias("vc"),
        )
        res = log.merge_mor(spark, updates.unionByName(inserts), ["event_id"])
        if res["files_appended"] != 1:
            # an empty source at some exotic sf would append 0 files —
            # fail loudly instead of hash-mismatching the oracle's
            # protocol constant (round-12 ADVICE)
            raise AssertionError(
                f"lake_merge_mor: files_appended={res['files_appended']},"
                " oracle pins 1 — empty MERGE source at this sf?"
            )
        m1 = log.read_manifest()
        after = log.snapshot_mor(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        tt = log.snapshot_mor(spark, 0).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        feed = log.changes_between(spark, 0, res["version"])
        cdf = {
            r["_change_type"]: r["n"]
            for r in feed.groupBy("_change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        return tables.local_row(
            spark,
            ("n_rows", int(after["n"]), "bigint"),
            ("n_updated", int(res["n_updated"]), "bigint"),
            ("n_inserted", int(res["n_inserted"]), "bigint"),
            ("vc_v0", int(v0["s"]), "bigint"),
            ("vc_after", int(after["s"]), "bigint"),
            ("files_rewritten", int(res["files_rewritten"]), "int"),
            ("files_appended", int(res["files_appended"]), "int"),
            (
                "originals_untouched",
                bool(set(m0["files"]) <= set(m1["files"])),
                "boolean",
            ),
            (
                "time_travel_v0_intact",
                bool(
                    tt["n"] == v0["n"]
                    and tt["s"] == v0["s"]
                    and after["n"] == v0["n"] + res["n_inserted"]
                ),
                "boolean",
            ),
            (
                "cdf_delete_plus_insert",
                bool(
                    cdf.get("delete", 0) == res["n_updated"]
                    and cdf.get("insert", 0)
                    == res["n_updated"] + res["n_inserted"]
                ),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "lake_merge_full",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    upd AS (
      SELECT count(*) AS n, coalesce(sum(vc + 5000), 0) AS s FROM e
      WHERE event_type = 'view' AND user_id % 15 = 2
    ),
    ins AS (
      SELECT count(*) AS n, coalesce(sum(vc + 7), 0) AS s FROM e
      WHERE event_type = 'purchase' AND user_id % 15 = 3
    ),
    del AS (
      SELECT count(*) AS n, coalesce(sum(vc), 0) AS s FROM e
      WHERE event_type = 'click' AND user_id % 10 = 4
    ),
    tot AS (SELECT count(*) AS n, sum(vc) AS s FROM e),
    upd_old AS (
      SELECT coalesce(sum(vc), 0) AS s FROM e
      WHERE event_type = 'view' AND user_id % 15 = 2
    )
    SELECT CAST(tot.n + ins.n - del.n AS BIGINT) AS n_rows,
           CAST(upd.n AS BIGINT) AS n_updated,
           CAST(ins.n AS BIGINT) AS n_inserted,
           CAST(del.n AS BIGINT) AS n_deleted,
           CAST(tot.s AS BIGINT) AS vc_v0,
           CAST(tot.s - upd_old.s + upd.s + ins.s - del.s AS BIGINT)
             AS vc_after,
           CAST(0 AS INT) AS files_rewritten,
           CAST(1 AS INT) AS files_appended,
           true AS originals_untouched,
           true AS time_travel_v0_intact,
           true AS cdf_replay_ok
    FROM tot, upd, ins, del, upd_old
    """,
    doc="Three-clause Delta MERGE, merge-on-read (TableLog.merge_mor "
    "with delete_unmatched — WHEN MATCHED THEN UPDATE SET * / WHEN "
    "NOT MATCHED THEN INSERT * / WHEN NOT MATCHED BY SOURCE AND "
    "<pred> THEN DELETE): matched rows and clause-doomed unmatched "
    "rows share ONE file-scoped (file, key) DV artifact, the source "
    "lands as one appended file, zero existing files rewritten. The "
    "round-11 verdict's missing MERGE shape: updates are 'view' rows "
    "of user_id%15=2 (vc+5000), inserts offset 'purchase' rows of "
    "user_id%15=3 (vc+7), and the delete clause reaps 'click' rows "
    "of user_id%10=4 that the source doesn't key. The change feed "
    "must replay delete(masked updates + clause deletes) + "
    "insert(appended source), asserted against the census. At 100 TB "
    "this is the retention/compliance MERGE (refresh a dimension AND "
    "purge rows that left the source) at O(source + deletes) write "
    "cost instead of copy-on-write's O(touched files).",
    tags=("lakehouse", "merge", "time-travel", "events"),
)
def lake_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from chess_ratings_spark.operators.tablelog import TableLog

    # shared projection: MUST match the prestaged fixture's base data,
    # so take it from _mor_events instead of re-declaring (r13 ADVICE)
    ev = _mor_events(spark, sf_dir)
    base = staging.new_dir("crs_mfull_")
    try:
        log = TableLog(base)
        log.append_range_bucketed(
            ev,
            "user_id",
            25,
            tag="base",
            prestaged=_mor_base_prestaged(spark, sf_dir),
        )
        m0 = log.read_manifest()
        v0 = log.snapshot_mor(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]

        # Same collision guard as lake_merge_mor (round-12 ADVICE):
        # synthetic insert keys start past max(event_id) so no sf can
        # flip an insert into an update behind the oracle's back.
        key_offset = _mor_max_event_id(spark, sf_dir) + 1
        updates = ev.filter(
            "event_type = 'view' AND user_id % 15 = 2"
        ).withColumn("vc", F.col("vc") + 5000)
        inserts = ev.filter(
            "event_type = 'purchase' AND user_id % 15 = 3"
        ).select(
            (F.col("event_id") + key_offset).alias("event_id"),
            "user_id",
            "event_type",
            (F.col("vc") + 7).alias("vc"),
        )
        res = log.merge_mor(
            spark,
            updates.unionByName(inserts),
            ["event_id"],
            delete_unmatched="event_type = 'click' AND user_id % 10 = 4",
        )
        if res["files_appended"] != 1:
            # see lake_merge_mor: fail loudly, not via oracle mismatch
            raise AssertionError(
                f"lake_merge_full: files_appended={res['files_appended']},"
                " oracle pins 1 — empty MERGE source at this sf?"
            )
        m1 = log.read_manifest()
        after = log.snapshot_mor(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        tt = log.snapshot_mor(spark, 0).agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
        ).collect()[0]
        feed = log.changes_between(spark, 0, res["version"])
        cdf = {
            r["_change_type"]: r["n"]
            for r in feed.groupBy("_change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        return tables.local_row(
            spark,
            ("n_rows", int(after["n"]), "bigint"),
            ("n_updated", int(res["n_updated"]), "bigint"),
            ("n_inserted", int(res["n_inserted"]), "bigint"),
            ("n_deleted", int(res["n_deleted"]), "bigint"),
            ("vc_v0", int(v0["s"]), "bigint"),
            ("vc_after", int(after["s"]), "bigint"),
            ("files_rewritten", int(res["files_rewritten"]), "int"),
            ("files_appended", int(res["files_appended"]), "int"),
            (
                "originals_untouched",
                bool(set(m0["files"]) <= set(m1["files"])),
                "boolean",
            ),
            (
                "time_travel_v0_intact",
                bool(
                    tt["n"] == v0["n"]
                    and tt["s"] == v0["s"]
                    and after["n"]
                    == v0["n"] + res["n_inserted"] - res["n_deleted"]
                ),
                "boolean",
            ),
            (
                "cdf_replay_ok",
                bool(
                    cdf.get("delete", 0)
                    == res["n_updated"] + res["n_deleted"]
                    and cdf.get("insert", 0)
                    == res["n_updated"] + res["n_inserted"]
                ),
                "boolean",
            ),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
