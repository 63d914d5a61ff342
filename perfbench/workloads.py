"""The benchmark's workloads: fixed mixes of registered queries.

Each run is a fresh process with one client running one query at a time
(a closed loop). Pass 1 runs every query of the mix once in a fresh JVM;
later passes repeat the mix until the measuring window is used up. Every
pass runs the mix in its own order, drawn from the run's seed.
"""

from __future__ import annotations

import random

MIXES: dict[str, tuple[str, ...]] = {
    # Read-only star-schema SQL beside Python/Arrow UDF text work: Spark
    # planning and execution, Python workers and the llm_tier caches.
    # No TableLog and no streaming, so changes there read flat.
    "batch": (
        "q4_order_priority",
        "q13_customer_distribution",
        "q18_large_volume_customer",
        "corpus_prepare",
        "udf_grouped_trend",
    ),
    # TableLog writes (copy-on-write update, merge-on-read delete) and a
    # time-travel read; nearly all wall is inside the query function.
    "lake": (
        "lake_update_cow",
        "lake_delete_mor",
        "lake_time_travel",
    ),
    # Micro-batch drains, state stores and checkpoint recovery through
    # stream_ops. No TableLog-backed stream query, so stream_ops is
    # measured apart from tablelog.
    "stream": (
        "stream_dedup",
        "stream_checkpoint",
        "stream_tumbling_live",
    ),
}

#: Workloads whose set-up runs the engine-generic streaming warm-up
#: (``worker.warm_streaming``): those with streaming queries in the mix.
#: No mix query uses SQL scripting or a Python DataSource, so their
#: warm-ups would only lengthen set-up.
STREAMING = frozenset({"stream"})


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The mix of ``workload`` in the order pass ``pass_no`` runs it."""
    names = list(MIXES[workload])
    random.Random(f"{workload}:{seed}:{pass_no}").shuffle(names)
    return names
