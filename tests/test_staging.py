"""Session staging (chess_ratings_spark/staging.py): every kind of
staged dir lives under the one staging root and goes with its purge."""

from __future__ import annotations

import os

from chess_ratings_spark import staging, tables
from chess_ratings_spark.operators.tablelog import TableLog
from chess_ratings_spark.plans import lakehouse, llm_tier
from chess_ratings_spark.streaming import stream_ops

from .conftest import SF_SMOKE


def test_purge_removes_every_kind_of_staged_dir(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(30).selectExpr("id AS k", "id % 3 AS m").write.parquet(src)
    fx = spark.read.parquet(src)

    TableLog(str(tmp_path / "t")).append(fx.filter("m = 1"), n_files=2, tag="s")
    dirs = {
        "stream events": stream_ops._stage(tables.load(spark, SF_SMOKE, "events")),
        "stream slice": stream_ops._slice_stage(fx.filter("m = 0")),
        "tablelog landing": staging.stage_dir(fx.filter("m = 1"), 2),
        "mor fixture": lakehouse._mor_base_prestaged(spark, SF_SMOKE)[0],
        "lsh index": llm_tier._history_lsh_index(spark, SF_SMOKE),
    }
    assert all(os.path.isdir(d) for d in dirs.values())

    staging.purge()
    left = [kind for kind, d in dirs.items() if os.path.exists(d)]
    assert not left, f"purge left staged dirs: {left}"

    # a purged entry is written afresh, never served from the gone dir
    again = stream_ops._slice_stage(fx.filter("m = 0"))
    assert again != dirs["stream slice"]
    assert spark.read.parquet(again).count() == 10
