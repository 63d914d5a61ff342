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
  / stateful-operator commit times;
- resident state: the sum of ``memoryUsedBytes`` over the state
  operators of the query's last progress, i.e. the state a finished
  replay still holds in executor memory.

``--census`` runs registry queries instead (the ones named, or by
default the 30 tagged ``streaming``), ``--passes`` times in one
session, and prints one JSON line per query of the last pass (wall,
resident state summed over every stream the query ran through
``stream_ops._run``, the stage's ``dir.miss`` and ``dir.unkeyed``
writes) and one per pass: wall, resident state, the dirs and bytes
the pass added under the staging root, and the JVM heap still live
after a full collection.

Prints one JSON line per probe. Usage:
    python scripts/stream_overhead_probe.py [--sf-dir DIR]
    python scripts/stream_overhead_probe.py --census [QUERY ...] [--sf-dir DIR] [--passes N]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.1"


def resident_state_bytes(progress) -> int:
    """State held in memory after a query's last batch."""
    ops = (progress or {}).get("stateOperators") or []
    return sum(int(op["memoryUsedBytes"]) for op in ops)


def probe(spark, label: str, ev, stream_df, output_mode: str) -> dict:
    from chess_ratings_spark.streaming.stream_ops import _run

    t0 = time.perf_counter()
    q = _run(spark, ev, stream_df, output_mode)
    wall = time.perf_counter() - t0
    batches = []
    for p in q.recentProgress:
        d = p["durationMs"] if isinstance(p, dict) else json.loads(p.json)["durationMs"]
        batches.append(d)
    spark.catalog.dropTempView(q.name)
    agg: dict[str, int] = {}
    for b in batches:
        for k, v in b.items():
            agg[k] = agg.get(k, 0) + int(v)
    out = {
        "probe": label,
        "wall_s": round(wall, 2),
        "n_batches": len(batches),
        "resident_state_bytes": resident_state_bytes(q.lastProgress),
        "durationMs_sum": agg,
    }
    print(json.dumps(out), flush=True)
    return out


def _staging_usage() -> tuple[int, int]:
    """(entries, bytes) under the staging root."""
    from chess_ratings_spark import staging

    if staging._root is None:
        return 0, 0
    root = Path(staging._root)
    size = sum(f.stat().st_size for f in root.rglob("*") if f.is_file())
    return sum(1 for _ in root.iterdir()), size


def census(spark, sf_dir: str, passes: int, names: list[str]) -> None:
    """Run ``names`` (default: the stream family) ``passes`` times in
    one session."""
    import chess_ratings_spark.plans  # noqa: F401  (populates the registry)
    from chess_ratings_spark import staging
    from chess_ratings_spark.registry import REGISTRY
    from chess_ratings_spark.streaming import stream_ops

    names = names or [n for n, q in REGISTRY.items() if "streaming" in q.tags]
    run, last = stream_ops._run, []

    def recorded(*args, **kwargs):
        q = run(*args, **kwargs)
        last.append(q.lastProgress)
        return q

    stream_ops._run = recorded
    jvm = spark.sparkContext._jvm
    for n_pass in range(1, passes + 1):
        dirs0, bytes0 = _staging_usage()
        t_pass, resident = time.perf_counter(), 0
        for name in names:
            last.clear()
            before = staging.COUNTS.copy()
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            state = sum(resident_state_bytes(p) for p in last)
            resident += state
            if n_pass == passes:
                print(json.dumps({
                    "probe": name,
                    "wall_s": round(time.perf_counter() - t0, 2),
                    "resident_state_bytes": state,
                    **{k: staging.COUNTS[k] - before[k] for k in ("dir.miss", "dir.unkeyed")},
                }), flush=True)
        wall = time.perf_counter() - t_pass
        dirs1, bytes1 = _staging_usage()
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        print(json.dumps({
            "probe": f"census_pass_{n_pass}",
            "n_queries": len(names),
            "wall_s": round(wall, 2),
            "resident_state_bytes": resident,
            "staging_dirs_added": dirs1 - dirs0,
            "staging_mb_added": round((bytes1 - bytes0) / 2**20, 2),
            "live_heap_mb": round(heap / 2**20, 1),
        }), flush=True)


def main() -> None:
    from pyspark.sql import functions as F

    from chess_ratings_spark import tables
    from chess_ratings_spark.session import get_spark
    from chess_ratings_spark.streaming import stream_ops as so

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--census", action="store_true")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("names", nargs="*", help="registry queries for --census")
    args = ap.parse_args()

    spark = get_spark("stream-overhead-probe")
    if args.census:
        census(spark, args.sf_dir, args.passes, args.names)
        return
    ev = tables.load(spark, args.sf_dir, "events")

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
    probe(spark, "stateless_projection", ev, src.select("event_id", "event_type"), "append")

    # 2) windowed agg (one stateful op)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", "n")
    )
    probe(spark, "windowed_agg", ev, agg, "append")

    # 3) the same windowed agg AGAIN (second query, same session):
    #    isolates per-query start cost now that everything is warm
    probe(spark, "windowed_agg_warm", ev, agg, "append")

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
    probe(spark, "interval_join", ev, joined, "append")


if __name__ == "__main__":
    main()
