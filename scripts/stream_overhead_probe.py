"""Streaming-family wall-clock breakdown (round-10 verdict item 3):
decompose a representative stateful availableNow query into its cost
components via the engine's own instrumentation
(StreamingQueryProgress.durationMs) plus harness-side phase timers, to
establish how much of the ~60-80 s bench family is per-micro-batch
FIXED machinery (offset/commit WAL, incremental re-planning, state
store instantiation) that a real cluster amortizes over large batches,
vs data-proportional work.

Three probes per query shape:
- staging: write the input parquet (cold) vs reuse (the shared stage
  cache all bench queries after the first hit);
- stream execution: total availableNow drain wall;
- per-batch durationMs from recentProgress: triggerExecution split
  into queryPlanning / getBatch / addBatch / walCommit / commitOffsets
  / stateful-operator commit times.

Prints one JSON line per probe. Usage:
    python scripts/stream_overhead_probe.py
"""

from __future__ import annotations

import json
import sys
import time
import uuid
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.1"


def probe(spark, label: str, stream_df, output_mode: str) -> dict:
    from chess_ratings_spark.streaming.stream_ops import _state_partitions

    name = "probe_" + uuid.uuid4().hex[:10]
    t0 = time.perf_counter()
    with _state_partitions(spark):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    wall = time.perf_counter() - t0
    batches = []
    for p in q.recentProgress:
        d = p["durationMs"] if isinstance(p, dict) else json.loads(p.json)["durationMs"]
        batches.append(d)
    spark.catalog.dropTempView(name)
    agg: dict[str, int] = {}
    for b in batches:
        for k, v in b.items():
            agg[k] = agg.get(k, 0) + int(v)
    out = {
        "probe": label,
        "wall_s": round(wall, 2),
        "n_batches": len(batches),
        "durationMs_sum": agg,
    }
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from chess_ratings_spark import tables
    from chess_ratings_spark.session import get_spark
    from chess_ratings_spark.streaming import stream_ops as so

    spark = get_spark("stream-overhead-probe")
    ev = tables.load(spark, SF_DIR, "events")

    # staging cost: cold write vs stage-cache reuse
    t0 = time.perf_counter()
    path = so._stage(ev)
    print(json.dumps({"probe": "stage_cold", "wall_s": round(time.perf_counter() - t0, 2)}))
    t0 = time.perf_counter()
    so._stage(ev)
    print(json.dumps({"probe": "stage_reuse", "wall_s": round(time.perf_counter() - t0, 2)}))

    src = so._with_event_time(
        spark.readStream.schema(so.EVENT_SCHEMA).parquet(path)
    )

    # 1) stateless projection: the pure-machinery floor
    probe(spark, "stateless_projection", src.select("event_id", "event_type"), "append")

    # 2) windowed agg (one stateful op)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", "n")
    )
    probe(spark, "windowed_agg", agg, "append")

    # 3) the same windowed agg AGAIN (second query, same session):
    #    isolates per-query start cost now that everything is warm
    probe(spark, "windowed_agg_warm", agg, "append")

    # 4) stream-stream interval join (4 state stores/partition)
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "30 minutes")
    views = so._with_event_time(
        spark.readStream.schema(so.EVENT_SCHEMA).parquet(path)
    ).filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("ts").alias("v_ts")
    ).withWatermark("v_ts", "30 minutes")
    joined = purchases.join(
        views,
        (purchases.u == views.u)
        & (views.v_ts >= purchases.p_ts - F.expr("INTERVAL 2 HOURS"))
        & (views.v_ts <= purchases.p_ts),
        "inner",
    ).select("purchase_id")
    probe(spark, "interval_join", joined, "append")


if __name__ == "__main__":
    main()
