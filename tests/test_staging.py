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
    # a per-run checkpoint goes when its harness returns, before any purge
    assert base.startswith(staging._root + os.sep) and not os.path.exists(base)
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


def _twin(src: str, dst_dir) -> str:
    """Hardlink parquet file ``src`` into ``dst_dir``; returns the dir."""
    os.makedirs(dst_dir, exist_ok=True)
    os.link(src, os.path.join(dst_dir, os.path.basename(src)))
    return str(dst_dir)


def _one_parquet(spark, path: str) -> str:
    spark.range(20).selectExpr("id AS k").coalesce(1).write.parquet(path)
    (f,) = [p for p in os.listdir(path) if p.endswith(".parquet")]
    return os.path.join(path, f)


def test_hardlinked_twin_of_an_input_hits_the_stage(spark, tmp_path):
    """Inputs key by identity (device, inode, size, mtime), not path: a
    hardlinked copy in another dir is the same input, as when a query
    rebuilds a table from staged files in a fresh dir on every run."""
    f = _one_parquet(spark, str(tmp_path / "src"))
    first = staging.stage_dir(spark.read.parquet(str(tmp_path / "src")).filter("k > 4"))
    hits = staging.COUNTS["dir.hit"]
    twin = _twin(f, tmp_path / "elsewhere")
    assert staging.stage_dir(spark.read.parquet(twin).filter("k > 4")) == first
    assert staging.COUNTS["dir.hit"] == hits + 1


def test_twins_under_hive_partition_dirs_miss(spark, tmp_path):
    """A file under a ``key=value`` dir keeps its path in the key:
    partition discovery turns the dir into a column, so hardlinked twins
    under ``p=1/`` and ``p=2/`` hold different rows."""
    f = _one_parquet(spark, str(tmp_path / "src"))
    root = str(tmp_path / "part")
    staged = []
    for v in (1, 2):
        twin = _twin(f, tmp_path / "part" / f"p={v}")
        df = spark.read.option("basePath", root).parquet(twin)
        staged.append(staging.stage_dir(df))
        assert {r.p for r in spark.read.parquet(staged[-1]).collect()} == {v}
    assert staged[0] != staged[1]


def test_scoped_dv_read_misses_across_tables_naming_other_paths(spark, tmp_path):
    """A scoped-DV read reads each row's file path, so the path stays in
    its key. Two tables share every inode (data files landed from one
    source, DV dir hardlinked), but the pairs name the first table's
    files: they mask rows there and none in the twin. Keyed by identity
    alone, the twin would be served the first table's masked rows."""
    from chess_ratings_spark.operators.tablelog import _write_dv

    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id AS k", "0 AS tag").write.parquet(src)
    t0, t1 = (TableLog(str(tmp_path / f"t{i}")) for i in (0, 1))
    for log in (t0, t1):
        log.append(spark.read.parquet(src), n_files=2, tag="base")
    m0 = t0.read_manifest()
    pairs = t0._with_scoped_dvs_applied(spark, m0["files"], m0, keep_file=True)
    dv0 = _write_dv(pairs.filter("k < 10").select("_dv_file", "k"), str(tmp_path / "dv0"))
    dv1 = str(tmp_path / "dv1")
    os.makedirs(dv1)
    for name in os.listdir(dv0):
        os.link(os.path.join(dv0, name), os.path.join(dv1, name))
    for log, dv in ((t0, dv0), (t1, dv1)):
        files = log.read_manifest()["files"]
        log.commit(files, op="delete-mor", extra={"delete_vectors_scoped": [dv]})

    staged = [staging.stage_dir(log.snapshot_mor(spark)) for log in (t0, t1)]
    assert staged[0] != staged[1]
    assert [spark.read.parquet(d).count() for d in staged] == [90, 100]


def test_landings_that_cannot_repeat_are_unkeyed(spark, tmp_path):
    """In a per-run dir under the staging root, a hardlink of a staged
    file keys by identity; a file the run wrote itself, or a read whose
    key holds the per-run path, lands unkeyed and leaves no staged dir."""
    _one_parquet(spark, str(tmp_path / "src"))
    staged = staging.stage_dir(spark.read.parquet(str(tmp_path / "src")).filter("k < 30"))
    run = staging.new_dir("crs_test_run_")
    (f,) = [os.path.join(staged, f) for f in os.listdir(staged) if f.endswith(".parquet")]
    _twin(f, run + "/linked")
    spark.range(20).selectExpr("id AS k").write.parquet(run + "/fresh")
    reads = {
        "linked": spark.read.parquet(run + "/linked"),
        "fresh": spark.read.parquet(run + "/fresh"),
        "by path": spark.read.parquet(run + "/linked").select("k", "_metadata.file_path"),
    }
    unkeyed = {}
    for kind, df in reads.items():
        before = staging.COUNTS["dir.unkeyed"]
        staging.land(df.filter("k > 4"), tmp_path / kind.replace(" ", "_"))
        unkeyed[kind] = staging.COUNTS["dir.unkeyed"] - before
    assert unkeyed == {"linked": 0, "fresh": 1, "by path": 1}
