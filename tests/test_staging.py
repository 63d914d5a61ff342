"""Session staging (chess_ratings_spark/staging.py): every kind of
staged dir lives under the one staging root and goes with its purge."""

from __future__ import annotations

import os

from chess_ratings_spark import staging, tables
from chess_ratings_spark.operators.tablelog import TableLog
from chess_ratings_spark.plans import lakehouse, llm_tier
from chess_ratings_spark.streaming import stream_ops

from .conftest import SF_SMOKE


def test_purge_removes_every_kind_of_staged_dir(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "src")
    spark.range(30).selectExpr("id AS k", "id % 3 AS m").write.parquet(src)
    fx = spark.read.parquet(src)

    TableLog(str(tmp_path / "t")).append(fx.filter("m = 1"), n_files=2, tag="s")
    made: list[str] = []
    new_dir = staging.new_dir
    monkeypatch.setattr(staging, "new_dir", lambda p: made.append(new_dir(p)) or made[-1])
    stream_ops.checkpoint_recovery_stream(spark, tables.load(spark, SF_SMOKE, "events"))
    monkeypatch.undo()
    (base,) = [d for d in made if os.path.basename(d).startswith("crs_ckpt_")]
    ckpt = base + "/ckpt"
    assert ckpt.startswith(staging._root + os.sep)
    dirs = {
        "stream events": stream_ops._stage(tables.load(spark, SF_SMOKE, "events")),
        "stream slice": stream_ops._slice_stage(fx.filter("m = 0")),
        "tablelog landing": staging.stage_dir(fx.filter("m = 1"), 2),
        "mor fixture": lakehouse._mor_base_prestaged(spark, SF_SMOKE)[0],
        "lsh index": llm_tier._history_lsh_index(spark, SF_SMOKE),
        "stream checkpoint": ckpt,
    }
    assert all(os.path.isdir(d) for d in dirs.values())

    staging.purge()
    left = [kind for kind, d in dirs.items() if os.path.exists(d)]
    assert not left, f"purge left staged dirs: {left}"

    # a purged entry is written afresh, never served from the gone dir
    again = stream_ops._slice_stage(fx.filter("m = 0"))
    assert again != dirs["stream slice"]
    assert spark.read.parquet(again).count() == 10


def test_input_rewritten_in_place_is_never_served_stale(spark, tmp_path):
    """The stage key holds each input file's size and mtime, not only
    its path: a parquet input rewritten in place (same path, other
    rows) between two landings in one session lands the new rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "input.parquet")
    pq.write_table(pa.table({"k": pa.array(range(10), pa.int64())}), src)
    log = TableLog(str(tmp_path / "t"))
    log.append(spark.read.parquet(src), n_files=1, tag="a")

    pq.write_table(pa.table({"k": pa.array(range(100, 125), pa.int64())}), src)
    log.append(spark.read.parquet(src), n_files=1, tag="b")
    new = sorted(set(log.read_manifest(1)["files"]) - set(log.read_manifest(0)["files"]))
    got = sorted(r.k for r in spark.read.parquet(*new).collect())
    assert got == list(range(100, 125))
