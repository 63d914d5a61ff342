"""Scale-pattern demonstrations: skew salting, bucketed co-located
joins, and the remaining live-streaming twin. These exist to make the
100 TB techniques concrete and testable, not just documented
(DESIGN.md references them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chess_ratings_spark import staging, tables
from chess_ratings_spark.operators.aggregates import money
from chess_ratings_spark.registry import register
from chess_ratings_spark.session import conf_scope

N_SALTS = 8


def _with_query_execution(df: DataFrame, extract):
    """Run ``extract(queryExecution)`` under a guard, None on failure.

    The plan-proof queries certify physical behavior (pruned scans,
    shuffle-free joins, injected bloom filters) from the JVM
    QueryExecution behind the DataFrame — reached via the private
    ``_jdf`` handle, which breaks across Spark upgrades and does not
    exist under Spark Connect. Round 4 proved environment drift is
    real, so every caller degrades to ``proof_available=false`` (the
    query still answers; only the plan certification is withheld)
    instead of crashing the row.
    """
    try:
        return extract(df._jdf.queryExecution())
    except Exception:
        return None


@register(
    "join_skew_salted",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value * weight), 2) AS weighted_value
    FROM events
    JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
                 ('signup', 5.0), ('error', 0.0)) AS w(event_type, weight)
      USING (event_type)
    GROUP BY event_type
    """,
    doc="Skew-mitigation pattern, verified equal to the plain join: the "
    "5-value event_type key is maximally skewed (~n/5 rows per key), "
    "so the fact side salts the key with event_id%8 and the dim side "
    "explodes ×8 — spreading each hot key over 8 reducers. The oracle "
    "is the UNsalted join: salting must not change results. (With a "
    "broadcastable dim you'd broadcast instead; salting is for when "
    "both sides are big — the dim here stands in for that case.)",
    tags=("join", "scale"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    weights = tables.local_table(
        spark,
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)],
        [("event_type", "string"), ("weight", "double")],
    )
    salted_fact = ev.withColumn("salt", (F.col("event_id") % N_SALTS).cast("int"))
    salted_dim = weights.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
    )
    # hint AQE away from broadcasting so the salted shuffle path is the
    # one actually exercised (with broadcast the salt would be moot)
    j = salted_fact.join(
        salted_dim.hint("shuffle_hash"), on=["event_type", "salt"], how="inner"
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum(F.col("value") * F.col("weight"))).alias("weighted_value"),
    )


@register(
    "join_bucketed",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS total,
           true AS shuffle_free,
           CAST(2 AS INT) AS bucketed_scans,
           true AS proof_available
    FROM orders
    """,
    doc="Bucketed co-located join: both sides written bucketBy(8, key) "
    "sortBy(key) as tables, then self-joined — the physical plan "
    "carries NO Exchange on either side (verified in-query via the "
    "plan string; returned as a column). At 100 TB, bucketing a fact "
    "table once amortizes the shuffle across every later join on that "
    "key.",
    tags=("join", "scale", "sink"),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    o = tables.load(spark, sf_dir, "orders")
    base = staging.new_dir("crs_bucket_")
    suffix = uuid.uuid4().hex[:8]
    names = []
    for i, cols in enumerate((["o_orderkey", "o_custkey"], ["o_orderkey", "o_totalprice"])):
        name = f"crs_bucketed_{suffix}_{i}"
        (
            o.select(*cols)
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{base}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
        names.append(name)
    a = spark.table(names[0])
    b = spark.table(names[1])
    # merge hint: at test scale the planner would rather broadcast and
    # skip bucketed reading entirely ("Bucketed: false (disabled by
    # query planner)"); forcing SMJ exercises the shuffle-free bucketed
    # path this demo exists to prove
    try:
        j = a.hint("merge").join(b, "o_orderkey")
        plan = _with_query_execution(j, lambda qe: qe.executedPlan().toString())
        proof = plan is not None
        shuffle_free = proof and "Exchange hashpartitioning" not in plan
        bucketed_scans = plan.count("Bucketed: true") if proof else -1
        # materialize the (1-row) result so the catalog tables can be
        # dropped — a long-lived driver session must not accumulate one
        # pair of bucketed tables per invocation
        r = j.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ).collect()[0]
        return tables.local_row(
            spark,
            ("n_rows", r["n_rows"], "bigint"),
            ("total", r["total"], "double"),
            ("shuffle_free", bool(shuffle_free), "boolean"),
            ("bucketed_scans", int(bucketed_scans), "int"),
            ("proof_available", bool(proof), "boolean"),
        )
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


@register(
    "stream_session_live",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ), g AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS grp
      FROM w
    ), s AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 2) AS total_value
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
           strftime(session_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           n_events, total_value
    FROM s, (SELECT max(ts) AS hi FROM events) b
    WHERE session_end <= hi - INTERVAL '10 minutes'
    """,
    doc="session_window as a real streaming query (watermark + append "
    "drain). Append emits a session once the watermark (max(ts) - 10m) "
    "passes its end (last event + 30m gap); the oracle is the "
    "gaps-and-islands batch formulation restricted to those finalized "
    "sessions.",
    tags=("streaming", "events", "live"),
)
def stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chess_ratings_spark.streaming import stream_ops

    ev = tables.load(spark, sf_dir, "events")
    return stream_ops.session_stream(spark, ev)


@register(
    "scan_partition_pruning",
    oracle="""
    SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS INT) AS partitions_total,
           CAST(1 AS INT) AS partitions_read,
           CAST(count(*) FILTER (WHERE CAST(ts AS DATE) =
             (SELECT min(CAST(ts AS DATE)) FROM events)) AS BIGINT) AS rows_read,
           true AS pruned_ok,
           true AS proof_available
    FROM events
    """,
    doc="Partition-pruning proof: write events hive-partitioned by "
    "event date, read back with a date-literal filter, and certify "
    "FROM THE EXECUTED SCAN'S OWN METRICS that it touched only the "
    "matching partition directory — FileSourceScanExec reports "
    "numPartitions after execution (inputFiles() is pre-pruning and "
    "would lie), plus PartitionFilters in the plan text. At 100 TB "
    "date-partitioning is the first-order scan cost lever; a filter "
    "that doesn't prune is a full-corpus read. The oracle recomputes "
    "the partition census and the pruned slice's row count from the "
    "logical input and pins the certification flags true (a Spark "
    "upgrade that breaks the reflection degrades proof_available and "
    "surfaces as a mismatch — the claim genuinely can't be made then).",
    tags=("scale", "source", "events"),
)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value",
        F.to_date(F.col("ts")).alias("event_date"),
    )
    base = Path(staging.new_dir("crs_prune_"))
    path = str(base / "events_by_date")
    try:
        ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
        full = spark.read.parquet(path)
        # inputFiles() enumerates the relation BEFORE partition
        # pruning, so it counts the whole table — fine for the total
        total_parts = len({f.rsplit("/", 2)[-2] for f in full.inputFiles()})
        lo = full.agg(F.min("event_date")).first()[0]
        pruned = full.filter(F.col("event_date") == F.lit(lo))
        n_rows = len(pruned.collect())  # executes THIS qe → scan metrics populate

        def _extract(qe):
            leaf = qe.executedPlan().collectLeaves().apply(0)
            metrics, it = {}, leaf.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            return metrics, qe.executedPlan().toString()

        got = _with_query_execution(pruned, _extract)
        proof = got is not None
        metrics, plan = got if proof else ({}, "")
        has_partition_filter = "PartitionFilters: [" in plan and "event_date" in plan
        read_parts = int(metrics.get("numPartitions", -1))
        return tables.local_row(
            spark,
            ("partitions_total", int(total_parts), "int"),
            ("partitions_read", read_parts, "int"),
            ("rows_read", int(n_rows), "bigint"),
            ("pruned_ok", bool(proof and has_partition_filter and read_parts == 1 and total_parts > 1), "boolean"),
            ("proof_available", bool(proof), "boolean"),
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "join_dynamic_pruning",
    oracle="""
    SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS INT) AS partitions_total,
           CAST(count(DISTINCT CAST(ts AS DATE))
             FILTER (WHERE day(CAST(ts AS DATE)) <= 2) AS INT)
             AS partitions_read,
           CAST(count(*) FILTER (WHERE day(CAST(ts AS DATE)) <= 2) AS BIGINT)
             AS rows_joined,
           true AS dpp_ok,
           true AS proof_available
    FROM events
    """,
    doc="Dynamic partition pruning proof: events written "
    "hive-partitioned by event_date, joined to a tiny filtered date "
    "dimension (no static predicate on the fact side). Catalyst "
    "injects the dim's date set as a runtime PartitionFilter "
    "(dynamicpruningexpression), so the fact scan reads only the "
    "dim's partitions — certified from the executed scan's own "
    "numPartitions metric, not inputFiles(). DPP is how a 100 TB "
    "date-partitioned fact avoids a full scan when the calendar "
    "filter lives on a dimension.",
    tags=("scale", "join", "events"),
)
def join_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.to_date(F.col("ts")).alias("event_date")
    )
    base = Path(staging.new_dir("crs_dpp_"))
    path = str(base / "events_by_date")
    # AQE wraps the executed plan in query stages whose collectLeaves()
    # hides the scans' metrics; DPP is independent of AQE, so turn AQE
    # off for this one demo (conf restored; serial-driver assumption as
    # documented for stream_ops._state_partitions' scope)
    try:
        with conf_scope(spark, {"spark.sql.adaptive.enabled": "false"}):
            ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
            fact = spark.read.parquet(path)
            total_parts = len({f.rsplit("/", 2)[-2] for f in fact.inputFiles()})
            # the dim side needs a SELECTIVE predicate (a real Filter node)
            # for the DPP planner rule to inject the runtime subquery — a
            # bare distinct+limit is not considered prunable
            dim = (
                fact.select(F.col("event_date").alias("d"))
                .distinct()
                .filter(F.dayofmonth("d") <= 2)
            )
            joined = fact.join(F.broadcast(dim), fact.event_date == dim.d).agg(
                F.count(F.lit(1)).alias("n_rows")
            )
            n_rows = joined.collect()[0]["n_rows"]

            def _extract(qe):
                leaves = qe.executedPlan().collectLeaves()
                metrics = {}
                for i in range(leaves.size()):
                    leaf = leaves.apply(i)
                    if "FileSourceScan" not in leaf.getClass().getName():
                        continue
                    # the fact scan carries the dynamicpruning
                    # PartitionFilter; the dim scan (same table, no
                    # filter) does not
                    if "dynamicpruning" not in leaf.toString().lower():
                        continue
                    it = leaf.metrics().iterator()
                    while it.hasNext():
                        kv = it.next()
                        metrics[kv._1()] = kv._2().value()
                return metrics

            metrics = _with_query_execution(joined, _extract)
            proof = metrics is not None
            metrics = metrics or {}
            has_dpp = bool(metrics)
            read_parts = int(metrics.get("numPartitions", -1))
            return tables.local_row(
                spark,
                ("partitions_total", int(total_parts), "int"),
                ("partitions_read", read_parts, "int"),
                ("rows_joined", int(n_rows), "bigint"),
                ("dpp_ok", bool(proof and has_dpp and 0 < read_parts < total_parts), "boolean"),
                ("proof_available", bool(proof), "boolean"),
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "join_runtime_bloom",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS revenue,
           true AS bloom_in_plan,
           true AS proof_available
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    """,
    doc="Runtime Bloom-filter join pruning: a selective dim filter "
    "(URGENT orders) builds a bloom filter that is pushed into the "
    "fact scan as might_contain BEFORE the shuffle — rows that can't "
    "join never leave the map side. The third runtime-filtering "
    "lever after static and dynamic partition pruning, and the one "
    "that works on NON-partition keys at 100 TB. Self-certifying: "
    "the plan must contain the injected filter (bloom_in_plan) and "
    "the joined revenue is returned for cross-checking.",
    tags=("scale", "join"),
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, confs):
        li = tables.load(spark, sf_dir, "lineitem")
        o = tables.load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        row = j.collect()[0]
        plan = _with_query_execution(
            j, lambda qe: qe.executedPlan().toString().lower()
        )
        proof = plan is not None
        has_bloom = proof and "might_contain" in plan
        return tables.local_row(
            spark,
            ("n_rows", int(row["n_rows"]), "bigint"),
            ("revenue", float(row["revenue"]), "double"),
            ("bloom_in_plan", bool(has_bloom), "boolean"),
            ("proof_available", bool(proof), "boolean"),
        )


@register(
    "join_aqe_skew",
    oracle="""
    WITH a AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    w AS (
      SELECT t.event_type, v.w
      FROM (VALUES ('click'), ('view'), ('purchase'), ('signup'),
                   ('error')) t(event_type),
           (VALUES (0), (1), (2), (3), (4), (5), (6)) v(w)
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.vc * w.w) AS BIGINT) AS weighted,
           true AS skew_split_applied,
           true AS proof_available
    FROM a JOIN w USING (event_type)
    """,
    doc="ENGINE-automatic skew mitigation (AQE OptimizeSkewedJoin) — "
    "the runtime complement to join_skew_salted's manual salting: "
    "the same 5-value hot key, forced down the sort-merge path "
    "(merge hint + broadcast threshold off), with the skew detector "
    "tuned to demo scale (factor 1.0 / 2 KB threshold; production "
    "defaults are 5x median / 256 MB) and "
    "forceOptimizeSkewedJoin=true because the demo aggregates right "
    "after the join (the rule otherwise declines to split a "
    "distribution a downstream operator requires). AQE then splits "
    "each oversized reduce partition into MAPPER RANGES and "
    "replicates the matching dim partition — which is why the fact "
    "side is repartitioned to 16 upstream tasks first: a "
    "single-mapper input (one parquet file at test scale) is "
    "UNSPLITTABLE, the subtle precondition this query exists to "
    "record. The executed plan must carry an 'AQEShuffleRead "
    "skewed' node (skew_split_applied, via the degradable plan-proof "
    "helper); counts and the integer checksum are replayed by the "
    "oracle — the split must not change results. Session confs are "
    "saved and restored.",
    tags=("join", "scale", "events"),
)
def join_aqe_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with conf_scope(spark, tuned):
        a = ev.select(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
        ).repartition(16)
        w = tables.local_table(
            spark,
            [
                (t, i)
                for t in ("click", "view", "purchase", "signup", "error")
                for i in range(7)
            ],
            [("event_type", "string"), ("w", "bigint")],
        )
        out = (
            a.hint("merge")
            .join(w.hint("merge"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("vc") * F.col("w")).cast("bigint").alias("weighted"),
            )
        )
        r = out.collect()[0]  # bounded: 1 row; also finalizes the AQE plan
        plan = _with_query_execution(out, lambda qe: qe.executedPlan().toString())
        proof = plan is not None
        applied = proof and "AQEShuffleRead skewed" in plan
        return tables.local_row(
            spark,
            ("n", int(r["n"]), "bigint"),
            ("weighted", int(r["weighted"]), "bigint"),
            ("skew_split_applied", bool(applied), "boolean"),
            ("proof_available", bool(proof), "boolean"),
        )

