"""SparkSession construction for tests and benchmarks, and the one
scope for temporary session confs.

The driver supplies its own session to ``__spark_entry__`` functions, so
engine code must never *require* this builder — queries set any
runtime-settable conf they need themselves, inside :func:`conf_scope`,
so the driver's session is left as it was.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "chess-ratings-spark") -> SparkSession:
    """Local-mode session tuned for the test/bench environment.

    local[N] = one JVM, N executor threads; shuffle partitions sized to
    cores (the 200 default over-parallelizes small scale factors and the
    AQE coalescer handles the rest). On a real cluster these settings are
    cluster-conf concerns, not engine code.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]):
    """Set runtime ``confs`` for the body; on exit (also on an
    exception) restore each key's previous value, or unset it again if
    it was unset before. The driver runs queries serially, so no other
    query plans while a scoped value is in force."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
