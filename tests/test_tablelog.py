"""TableLog (operators/tablelog.py) commit-protocol invariants: CAS
conflict on racing writers, optimistic retry, orphan-file invisibility,
and snapshot stability across OPTIMIZE."""

from __future__ import annotations

import shutil
import tempfile
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from chess_ratings_spark import staging
from chess_ratings_spark.operators.tablelog import (
    CommitConflict,
    TableLog,
    _apply_delete_vectors,
    _write_dv,
)

from .conftest import job_count


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="crs_tablelog_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _tiny(spark, n=20, tag=0):
    return spark.range(n).select(
        (F.col("id") + 1000 * tag).alias("k"), F.lit(tag).alias("tag")
    )


def test_cas_conflict_and_retry(base, spark):
    log = TableLog(base)
    f1 = log._land(_tiny(spark, tag=1), n_files=1, tag="a")
    log.try_commit(0, f1, op="append")
    # a second writer racing to version 0 must lose, atomically
    with pytest.raises(CommitConflict):
        log.try_commit(0, f1, op="append")
    # the optimistic commit loop retries onto version 1
    f2 = log._land(_tiny(spark, tag=2), n_files=1, tag="b")
    v = log.commit(f1 + f2, op="append")
    assert v == 1
    assert log.versions() == [0, 1]
    # losing writer did not corrupt version 0's manifest
    assert log.read_manifest(0)["files"] == sorted(f1)


def test_orphan_files_invisible_to_snapshot(base, spark):
    log = TableLog(base)
    log.append(_tiny(spark, n=30, tag=1), n_files=2, tag="good")
    # a crashed writer's uncommitted file lands in the data dir
    orphan_src = log._land(_tiny(spark, n=99, tag=7), n_files=1, tag="scratch")
    Path(orphan_src[0]).rename(log.data_dir / "part-orphan.parquet")
    snap = log.snapshot(spark)
    assert snap.count() == 30  # orphan invisible
    naive = spark.read.parquet(str(log.data_dir))
    assert naive.count() > 30  # directory listing would see it


def test_optimize_preserves_content_and_history(base, spark):
    log = TableLog(base)
    for t in range(3):
        log.append(_tiny(spark, n=40, tag=t), n_files=4, tag=f"t{t}")
    assert len(log.read_manifest()["files"]) == 12
    before = {r.k for r in log.snapshot(spark).collect()}
    v = log.optimize(spark, target_rows_per_file=1_000)
    assert v == 3
    assert len(log.read_manifest()["files"]) == 1
    assert {r.k for r in log.snapshot(spark).collect()} == before
    # pre-OPTIMIZE snapshot still readable through the superseded files
    old = log.snapshot(spark, version=2)
    assert {r.k for r in old.collect()} == before
    assert len(set(old.inputFiles())) == 12


def test_optimize_file_count_is_ceil_of_live_over_target(base, spark):
    """The OPTIMIZE file-count LAW: ceil(live_rows / target) with a
    floor of 1 — pinned across the target boundary after the round-14
    sf0.1 sweep caught an oracle hardcoding the below-target constant
    (1 file) that silently broke once live rows crossed the target
    (lake_table_history, 80 096 rows at a 50 k target -> 2 files)."""
    import math

    for n, target in ((40, 1_000), (120, 50), (100, 50), (101, 50)):
        log = TableLog(base + f"/law_{n}_{target}")
        log.append(_tiny(spark, n=n), n_files=4, tag="a")
        log.optimize(spark, target_rows_per_file=target)
        assert len(log.read_manifest()["files"]) == max(
            1, math.ceil(n / target)
        ), (n, target)
        assert log.snapshot(spark).count() == n


def test_stats_pruning_is_superset_and_exact(base, spark):
    log = TableLog(base)
    df = spark.range(80).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    log.append_range_bucketed(df, "k", width=10, tag="r")
    pruned, total, scanned = log.snapshot_pruned(spark, "k", 25, 44)
    assert total == 8
    assert scanned == 3  # buckets [20,30), [30,40), [40,50)
    got = sorted(r.k for r in pruned.collect())
    assert got == list(range(25, 45))  # exact filter still applied on top


def test_vacuum_keeps_live_drops_history(base, spark):
    log = TableLog(base)
    for t in range(2):
        log.append(_tiny(spark, n=30, tag=t), n_files=3, tag=f"t{t}")
    log.optimize(spark, target_rows_per_file=1_000)
    census = log.vacuum(retain_versions=1)
    assert census["n_removed"] == 6
    assert census["n_live"] == 1
    assert log.snapshot(spark).count() == 60  # live snapshot intact
    assert log.versions() == [0, 1, 2]  # log stays auditable
    with pytest.raises(Exception):
        log.snapshot(spark, version=0).count()  # history physically gone

def test_concurrent_appends_rebase_no_lost_update(base, spark):
    """Two writers race to the same version: the loser must REBASE onto
    the winner's committed manifest (build callback re-evaluated per
    attempt), not republish its stale pre-race file list — the
    lost-update bug where the winner's files silently vanish."""
    log = TableLog(base)
    log.append(_tiny(spark, n=10, tag=0), n_files=1, tag="base")
    b_files = log._land(_tiny(spark, n=10, tag=2), n_files=1, tag="winner")

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"]:
            state["raced"] = True
            # writer B sneaks its commit in between A's snapshot read
            # and A's publish — B wins this version
            orig(version, log.read_manifest()["files"] + b_files, "append")
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    v = log.append(_tiny(spark, n=10, tag=3), n_files=1, tag="loser")
    assert v == 2  # base=0, winner=1, rebased loser=2
    final = set(log.read_manifest(v)["files"])
    assert set(b_files) <= final, "winner's files dropped (lost update)"
    assert len(final) == 3
    assert log.snapshot(spark).count() == 30


def test_optimize_rebase_carries_concurrent_append(base, spark):
    """OPTIMIZE racing an append (Delta's conflict-resolution case):
    the compacted files replace exactly the files OPTIMIZE read; the
    concurrently appended file is disjoint and must survive."""
    log = TableLog(base)
    for t in range(2):
        log.append(_tiny(spark, n=20, tag=t), n_files=2, tag=f"t{t}")
    late = log._land(_tiny(spark, n=5, tag=9), n_files=1, tag="late")

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"]:
            state["raced"] = True
            orig(version, log.read_manifest()["files"] + late, "append")
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    v = log.optimize(spark, target_rows_per_file=1_000)
    assert v == 3  # two appends, racer's append, rebased optimize
    final = log.read_manifest(v)["files"]
    assert set(late) <= set(final), "concurrent append discarded by OPTIMIZE"
    assert log.snapshot(spark).count() == 45  # 40 compacted + 5 late
    assert log.read_manifest(v)["data_change"] is False


def test_static_commit_conflict_propagates(base, spark):
    """A static-list commit (no build callback) must NOT silently retry
    past a conflict: replaying a pre-computed list at N+1 would drop
    the concurrent writer's files. The conflict surfaces instead."""
    log = TableLog(base)
    f1 = log._land(_tiny(spark, n=10, tag=1), n_files=1, tag="a")

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"]:
            state["raced"] = True
            orig(version, f1, "append")
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    with pytest.raises(CommitConflict):
        log.commit(f1, op="append")


def test_manifest_written_once_with_full_payload(base, spark):
    """Stats and delete vectors ride in the SAME exclusive-create write
    as the file list — no post-commit patch window where a reader sees
    the manifest without its sidecar metadata."""
    import json

    log = TableLog(base)
    df = spark.range(40).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    v = log.append_range_bucketed(df, "k", width=10, tag="r")
    raw = json.loads(log._manifest_path(v).read_text())
    assert len(raw["file_stats"]) == 4  # present at publish time
    # commit refuses a DV that does not exist, so reference a real one
    dv0 = _write_dv(_keys(spark, 0, 3), base + "/dv0")
    v2 = log.commit(
        raw["files"], op="delete-mor", extra={"delete_vectors": [dv0]}
    )
    raw2 = json.loads(log._manifest_path(v2).read_text())
    assert raw2["delete_vectors"] == [dv0]
    assert raw2["data_change"] is True


def test_append_range_bucketed_empty_and_negative(base, spark):
    log = TableLog(base)
    neg = spark.range(30).select((F.col("id") - 15).alias("k"))
    v = log.append_range_bucketed(neg, "k", width=10, tag="neg")
    stats = {e["path"]: e["stats"]["k"] for e in log.read_manifest(v)["file_stats"]}
    # floor semantics: -15..-11 -> bucket -2, -10..-1 -> bucket -1
    assert sorted(tuple(s) for s in stats.values()) == [
        (-15, -11), (-10, -1), (0, 9), (10, 14),
    ]
    # empty input commits an empty delta instead of crashing
    v2 = log.append_range_bucketed(neg.filter(F.col("k") > 99), "k", 10, "e")
    assert v2 == v + 1
    assert log.read_manifest(v2)["files"] == log.read_manifest(v)["files"]
    assert log.snapshot(spark, v2).count() == 30


def test_changes_between_skips_optimize_churn(base, spark):
    """Change feed: inserts = files added by data-change commits,
    deletes = v-1 snapshot semi-joined to new delete vectors; OPTIMIZE
    rewrites contribute nothing."""
    log = TableLog(base)
    log.append(_tiny(spark, n=10, tag=0), n_files=1, tag="a")  # v0
    log.append(_tiny(spark, n=10, tag=1), n_files=1, tag="b")  # v1
    dv_dir = str(Path(base) / "dv1")
    (
        log.snapshot(spark)
        .filter(F.col("k") % 2 == 0)
        .select("k")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dv_dir)
    )
    log.commit(  # v2: MOR delete of even keys
        log.read_manifest()["files"], op="delete-mor",
        extra={"delete_vectors": [dv_dir]},
    )
    log.optimize(spark, target_rows_per_file=1_000)  # v3: no data change
    log.append(_tiny(spark, n=10, tag=2), n_files=1, tag="c")  # v4
    ch = log.changes_between(spark, 0, 4)
    counts = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {(1, "insert"): 10, (2, "delete"): 10, (4, "insert"): 10}
    deleted = {r.k for r in ch.filter(F.col("_change_type") == "delete").collect()}
    assert all(k % 2 == 0 for k in deleted) and len(deleted) == 10


def test_optimize_materializes_delete_vectors(base, spark):
    """OPTIMIZE over a snapshot carrying delete vectors must compact
    only the LIVE rows (merge-on-read applied during the rewrite) and
    consume the sidecar — not resurrect deleted rows by copying raw
    files, and not carry a stale delete_vectors reference forward."""
    log = TableLog(base)
    log.append(_tiny(spark, n=20, tag=1), n_files=2, tag="a")
    dv = str(Path(base) / "dv")
    log.snapshot(spark).filter(F.col("k") % 4 == 0).select("k").write.mode(
        "overwrite"
    ).parquet(dv)
    log.commit(
        log.read_manifest()["files"], op="delete-mor",
        extra={"delete_vectors": [dv]},
    )
    v = log.optimize(spark, target_rows_per_file=1_000)
    m = log.read_manifest(v)
    assert "delete_vectors" not in m
    got = {r.k for r in log.snapshot(spark, v).collect()}
    assert got == {k for k in range(1000, 1020) if k % 4 != 0}


def test_bloom_prune_skips_absent_keys(spark):
    """The bloom sidecar's pruning claim: absent keys (inside every
    file's event_id [min,max] envelope, so stats pruning keeps all 8)
    touch at most 1 of 8 files (fp budget), and present keys are found
    in full — the no-false-negative guarantee."""
    from chess_ratings_spark.plans.lakehouse import lake_bloom_prune

    from .conftest import SF_SMOKE

    rows = {r["probe"]: r for r in lake_bloom_prune(spark, SF_SMOKE).collect()}
    assert all(r["no_false_negative"] for r in rows.values())
    for p in ("absent_far", "absent_near"):
        assert rows[p]["n_files_hit"] <= 1
        assert rows[p]["n_rows_found"] == 0
    for p in ("present_min", "present_max", "present_err"):
        assert rows[p]["n_files_hit"] >= 1
        assert rows[p]["n_rows_found"] == 1


def test_sharded_manifest_commit_payload_is_o_delta(spark, tmp_path):
    """Sharded protocol invariants: every commit's manifest carries
    only shard references (never file entries), each shard holds
    exactly the landing's delta, time travel resolves the prefix, and
    vacuum on a sharded table keeps all referenced files live."""
    import json as _json

    log = TableLog(tmp_path / "t")
    df = spark.range(300).select(F.col("id").alias("k"))
    for i in range(5):
        log.append_manifest_sharded(
            df.filter(F.col("id") % 5 == i), n_files=2, tag=f"l{i}"
        )
    for v in range(5):
        m = log.read_manifest(v)
        assert m["files"] == []  # O(delta): no inline entries, ever
        assert len(m["manifest_shards"]) == v + 1
        shard = _json.loads(Path(m["manifest_shards"][-1]).read_text())
        assert len(shard["files"]) == 2
    assert log.snapshot(spark, 2).count() == 180  # 3 of 5 landings
    assert log.snapshot(spark).count() == 300
    census = log.vacuum(retain_versions=1)
    assert census["n_removed"] == 0 and census["n_live"] == 10
    assert log.snapshot(spark).count() == 300


def test_compact_shards_rewrites_manifests_only(spark, tmp_path):
    """rewrite_manifests: after compaction the manifest references one
    merged shard, the snapshot is unchanged, the commit is not a data
    change (CDF must skip it), and time travel through the compaction
    still resolves the OLD shard list."""
    log = TableLog(tmp_path / "t")
    df = spark.range(200).select(F.col("id").alias("k"))
    for i in range(4):
        log.append_manifest_sharded(
            df.filter(F.col("id") % 4 == i), n_files=2, tag=f"l{i}"
        )
    files_before = log.resolve_files()
    v = log.compact_shards()
    m = log.read_manifest(v)
    assert len(m["manifest_shards"]) == 1
    assert m["data_change"] is False
    assert log.resolve_files(v) == sorted(files_before)
    assert log.snapshot(spark).count() == 200
    assert len(log.read_manifest(v - 1)["manifest_shards"]) == 4  # history
    assert log.snapshot(spark, v - 1).count() == 200
    # chunked compaction: max 3 entries/shard over 8 files -> 3 shards
    v2 = log.compact_shards(max_entries_per_shard=3)
    assert len(log.read_manifest(v2)["manifest_shards"]) == 3
    assert log.snapshot(spark).count() == 200


def test_append_carries_delete_vectors_forward(spark, tmp_path):
    """Regression: an append AFTER a merge-on-read delete must carry
    the delete vectors into the new manifest — dropping them would
    resurrect the deleted rows (Delta carries DVs across appends;
    only OPTIMIZE consumes them). Applies to full-list and sharded
    appends and to rewrite_manifests."""
    log = TableLog(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"))
    log.append(df.filter(F.col("k") < 50), n_files=2, tag="a")
    dv = str(tmp_path / "dv")
    df.filter(F.col("k") < 10).select("k").coalesce(1).write.parquet(dv)
    log.commit(
        log.read_manifest()["files"], op="delete-mor",
        extra={"delete_vectors": [dv]},
    )
    log.append(df.filter(F.col("k") >= 50), n_files=2, tag="b")
    m = log.read_manifest()
    assert m.get("delete_vectors") == [dv], "append dropped the DVs"
    live = spark.read.parquet(*m["files"]).join(
        F.broadcast(spark.read.parquet(dv)), "k", "left_anti"
    )
    assert live.count() == 90


def test_branch_wap_isolation_and_fast_forward(spark, tmp_path):
    """Branch staging is invisible to main until fast-forward; publish
    makes it visible atomically; a branch whose fork point main has
    passed is rejected (must rebase, never merge file lists)."""
    log = TableLog(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"))
    log.append(df.filter(F.col("k") < 40), n_files=2, tag="base")

    br = log.create_branch("wap")
    stale = log.create_branch("stale")
    br.append(df.filter(F.col("k") >= 40), n_files=2, tag="staged")

    assert br.snapshot(spark).count() == 100  # branch sees staged rows
    assert log.snapshot(spark).count() == 40  # main does not

    v = log.fast_forward(br, "wap")
    assert log.snapshot(spark).count() == 100
    m = log.read_manifest(v)
    assert m["published_branch"] == "wap" and m["data_change"] is True
    # the publish replays through the change feed as exactly the staged rows
    cdf = log.changes_between(spark, 0, v)
    assert cdf.filter(F.col("_change_type") == "insert").count() == 60

    with pytest.raises(CommitConflict):
        log.fast_forward(stale, "stale")


def test_restore_preserves_history_and_feeds_deletes(spark, tmp_path):
    """RESTORE commits the old snapshot as a NEW version (history kept),
    and the change feed replays it as deletes of the rows the reverted
    versions added — including resurrection inserts when restoring
    past an overwrite-style removal."""
    log = TableLog(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"))
    log.append(df.filter(F.col("k") < 40), n_files=2, tag="good")
    log.append(df.filter(F.col("k") >= 40), n_files=2, tag="bad")
    v = log.restore(0)
    assert v == 2 and log.versions() == [0, 1, 2]
    assert log.snapshot(spark).count() == 40
    assert log.snapshot(spark, version=1).count() == 100  # forensics
    cdf = log.changes_between(spark, 1, v)
    assert cdf.filter(F.col("_change_type") == "delete").count() == 60
    assert cdf.filter(F.col("_change_type") == "insert").count() == 0
    # restore FORWARD again (to v1): removed files resurrect as inserts
    v2 = log.restore(1)
    cdf2 = log.changes_between(spark, v, v2)
    assert cdf2.filter(F.col("_change_type") == "insert").count() == 60


def test_optimize_vs_optimize_conflict_no_duplication(base, spark):
    """Two concurrent OPTIMIZEs must NOT both succeed (Delta fails the
    second): the loser's read snapshot was itself rewritten, so a
    silent merge would keep the winner's compacted files as survivors
    AND add the loser's compacted copy of the same rows — duplicating
    every row. The loser raises CommitConflict and the table stays
    exact."""
    log = TableLog(base)
    for t in range(2):
        log.append(_tiny(spark, n=20, tag=t), n_files=2, tag=f"t{t}")

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent OPTIMIZE wins the race: compacts the same
            # snapshot and commits first
            winner = log._land(log.snapshot(spark), n_files=1, tag="winner-opt")
            orig(version, winner, "optimize")
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    with pytest.raises(CommitConflict, match="rewrote files"):
        log.optimize(spark, target_rows_per_file=1_000)
    # the winner's compacted snapshot is intact and NOT duplicated
    assert log.snapshot(spark).count() == 40
    assert len(log.read_manifest()["files"]) == 1


def test_restore_conflicts_with_concurrent_commit(base, spark):
    """RESTORE republishes an old snapshot verbatim, so a commit landing
    during the retry window would be silently erased by a blind retry —
    the lost-update class build-mode exists to prevent. Delta RESTORE
    conflicts with concurrent transactions; so does ours."""
    log = TableLog(base)
    log.append(_tiny(spark, n=10, tag=0), n_files=1, tag="good")
    log.append(_tiny(spark, n=10, tag=1), n_files=1, tag="bad")
    sneak = log._land(_tiny(spark, n=10, tag=2), n_files=1, tag="sneak")

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"]:
            state["raced"] = True
            orig(version, log.read_manifest()["files"] + sneak, "append")
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    with pytest.raises(CommitConflict, match="advanced"):
        log.restore(0)
    # the concurrent append survived; no restore was published
    assert log.snapshot(spark).count() == 30
    assert not any(
        m.startswith("restore") for m in
        (log.read_manifest(v)["op"] for v in log.versions())
    )


def test_changes_between_resolves_sharded_manifests(base, spark):
    """CDF over a sharded-protocol table: changes_between must resolve
    shard references per version (like the streaming source's
    _files_of) instead of diffing the always-empty inline 'files'
    list — which emitted nothing for real appends."""
    log = TableLog(base)
    df = spark.range(60).select(F.col("id").alias("k"))
    for i in range(3):
        log.append_manifest_sharded(
            df.filter(F.col("id") % 3 == i), n_files=2, tag=f"l{i}"
        )
    log.compact_shards()  # v3: metadata only, zero feed rows
    ch = log.changes_between(spark, 0, 3)
    counts = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {(1, "insert"): 20, (2, "insert"): 20}


def test_protocol_mix_refused_at_write_time(base, spark):
    """Full-list and sharded manifests must not mix on one table: each
    protocol's rebase only carries its own payload shape, so the seam
    is enforced with a loud write-time error in BOTH directions (and
    for the stats-carrying full-list append)."""
    df = _tiny(spark, n=10, tag=1)
    full = TableLog(Path(base) / "full")
    full.append(df, n_files=1, tag="a")
    with pytest.raises(ValueError, match="protocol mix"):
        full.append_manifest_sharded(df, n_files=1, tag="b")
    sharded = TableLog(Path(base) / "sharded")
    sharded.append_manifest_sharded(df, n_files=1, tag="a")
    with pytest.raises(ValueError, match="protocol mix"):
        sharded.append(df, n_files=1, tag="b")
    with pytest.raises(ValueError, match="protocol mix"):
        sharded.append_range_bucketed(df, "k", width=10, tag="c")
    # optimize() is protocol-aware since round 10: on a sharded table
    # it runs the sharded compaction path (not a refusal)
    v = sharded.optimize(spark, target_rows_per_file=1_000)
    assert v == 1 and sharded.read_manifest(v)["sharded"] is True
    # the failed attempts published nothing
    assert full.latest_version() == 0
    assert sharded.latest_version() == 1


def test_restore_and_branch_carry_shard_refs(base, spark):
    """RESTORE / branch verbs on a sharded table must carry the shard
    references (not just DVs/stats) — dropping them would publish an
    empty snapshot."""
    log = TableLog(base)
    df = spark.range(40).select(F.col("id").alias("k"))
    log.append_manifest_sharded(df.filter(F.col("k") < 20), n_files=1, tag="a")
    log.append_manifest_sharded(df.filter(F.col("k") >= 20), n_files=1, tag="b")
    v = log.restore(0)
    assert log.snapshot(spark, v).count() == 20  # shard refs survived
    br = log.create_branch("sb", version=1)
    assert br.snapshot(spark).count() == 40


def test_vacuum_preserves_unpublished_branch_files(base, spark):
    """Branches share main's data dir; a vacuum on main must union the
    branch logs into its live set — otherwise it physically deletes
    files referenced only by unpublished WAP staging commits."""
    log = TableLog(base)
    df = spark.range(100).select(F.col("id").alias("k"))
    log.append(df.filter(F.col("k") < 40), n_files=2, tag="base")
    br = log.create_branch("wap")
    br.append(df.filter(F.col("k") >= 40), n_files=2, tag="staged")

    census = log.vacuum(retain_versions=1)
    assert census["n_removed"] == 0  # staged files are live via the branch
    assert br.snapshot(spark).count() == 100  # WAP staging intact
    v = log.fast_forward(br, "wap")  # still publishable
    assert log.snapshot(spark, v).count() == 100


def test_stream_cdf_plans_removed_file_deletes(base, spark):
    """The streaming CDF source must plan whole-file delete partitions
    for files REMOVED by a data_change commit (RESTORE/overwrite),
    matching changes_between's removed-file branch — a streaming
    replica must not diverge from the source across a RESTORE."""
    from chess_ratings_spark.sources.tablelog_stream import TableLogCdfReader

    log = TableLog(base)
    df = spark.range(30).select(F.col("id").alias("k"))
    log.append(df.filter(F.col("k") < 10), n_files=1, tag="good")  # v0
    log.append(df.filter(F.col("k") >= 10), n_files=1, tag="bad")  # v1
    log.restore(0)  # v2: drops the 20 'bad' rows
    log.optimize(spark, target_rows_per_file=1_000)  # v3: must plan nothing

    rdr = TableLogCdfReader(base, key_col="k", columns=["k"])
    parts = rdr.partitions({"version": 1}, {"version": 3})
    kinds = [(p.version, p.kind, p.dv_file) for p in parts]
    assert kinds == [(2, "delete", None)]
    rows = list(rdr.read(parts[0]))
    n = sum(b.num_rows for b in rows)  # arrow-batch path
    assert n == 20
    # parity with the batch change feed over the same interval
    batch = log.changes_between(spark, 1, 3)
    assert batch.filter(F.col("_change_type") == "delete").count() == 20


def test_checkpoint_resolves_sharded_tail_only(spark, tmp_path):
    """Log checkpoint (Delta checkpoint + tail-JSON replay, applied to
    the sharded protocol): after a checkpoint at v5, resolving the
    latest snapshot reads ONLY the shards committed after it, and the
    file set is identical to full resolution."""
    log = TableLog(tmp_path / "t")
    df = spark.range(400).select(F.col("id").alias("k"))
    for i in range(6):
        log.append_manifest_sharded(
            df.filter(F.col("id") % 8 == i), n_files=2, tag=f"l{i}"
        )
    lc = log.write_checkpoint(spark)
    assert lc["version"] == 5 and lc["n_files"] == 12
    for i in (6, 7):
        log.append_manifest_sharded(
            df.filter(F.col("id") % 8 == i), n_files=2, tag=f"l{i}"
        )
    files, census = log.resolve_files_via_checkpoint(spark)
    assert census["used_checkpoint"] is True
    assert census["shards_total"] == 8 and census["shards_read"] == 2
    assert files == log.resolve_files()  # identical inventory
    assert spark.read.parquet(*files).count() == 400
    # time travel BEHIND the checkpoint falls back, still correct
    old, c_old = log.resolve_files_via_checkpoint(spark, version=3)
    assert c_old["used_checkpoint"] is False
    assert old == log.resolve_files(3)


def test_checkpoint_invalidated_by_manifest_rewrite(spark, tmp_path):
    """A rewrite-manifests compaction drops the shard files the
    checkpoint covered; the checkpoint reader must detect that and
    fall back to full resolution instead of double-counting."""
    log = TableLog(tmp_path / "t")
    df = spark.range(200).select(F.col("id").alias("k"))
    for i in range(4):
        log.append_manifest_sharded(
            df.filter(F.col("id") % 4 == i), n_files=2, tag=f"l{i}"
        )
    log.write_checkpoint(spark)
    log.compact_shards()  # shard list rewritten -> checkpoint stale
    files, census = log.resolve_files_via_checkpoint(spark)
    assert census["used_checkpoint"] is False
    assert files == log.resolve_files()
    assert spark.read.parquet(*files).count() == 200
    # a fresh checkpoint over the compacted manifest re-arms the path
    log.write_checkpoint(spark)
    log.append_manifest_sharded(
        df.filter(F.col("id") % 4 == 0), n_files=1, tag="extra"
    )
    files2, census2 = log.resolve_files_via_checkpoint(spark)
    assert census2["used_checkpoint"] is True and census2["shards_read"] == 1
    assert files2 == log.resolve_files()


def test_checkpoint_stats_pruning_superset_and_exact(spark, tmp_path):
    """snapshot_pruned_ckpt: pruning evaluated as a Spark filter over
    the checkpoint parquet skips exactly the files the driver-loop
    pruner skips, keeps files without stats (superset rule), and the
    pruned read returns exactly the full scan's rows."""
    log = TableLog(tmp_path / "t")
    df = spark.range(800).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    log.append_range_bucketed(df, "k", width=100, tag="b")  # 8 files + stats
    log.append(df.select((F.col("k") + 10_000).alias("k"), "v"),
               n_files=1, tag="nostats")  # 1 file, no stats rows
    log.write_checkpoint(spark)
    pruned, total, scanned = log.snapshot_pruned_ckpt(spark, "k", 150, 349)
    assert total == 9
    # buckets [100,200) and [200,300) and [300,400) overlap -> 3 files,
    # plus the stats-less file is always kept (superset rule)
    assert scanned == 4
    assert pruned.count() == 200
    ref = log.snapshot(spark).filter(F.col("k").between(150, 349))
    assert pruned.count() == ref.count()
    # driver-loop pruner agrees on the stats-bearing files
    _, t2, s2 = log.snapshot_pruned(spark, "k", 150, 349)
    assert (t2, s2) == (9, 4)
    # stale checkpoint refused: appending advances the log past it
    log.append(df.limit(5), n_files=1, tag="later")
    with pytest.raises(ValueError, match="latest"):
        log.snapshot_pruned_ckpt(spark, "k", 0, 1)


def test_commit_publish_is_atomic_under_concurrent_reads(base):
    """Regression (round-9 concurrent soak): the versioned manifest
    name must appear WITH its full payload in one step. The previous
    open(path,'x')+write publish exposed an empty file between the
    create and the write, so a reader polling latest_version() +
    read_manifest() could hit a JSONDecodeError. Pure-metadata hammer:
    one thread publishes 300 commits while readers poll continuously —
    any torn read fails the test."""
    import threading

    log = TableLog(base)
    stop = threading.Event()
    torn: list[str] = []
    # real (empty) files: the round-12 pre-publish guard refuses
    # phantom paths, and a refused commit must not strand the readers
    paths = []
    for i in range(300):
        p = Path(base) / "data" / f"f{i}.parquet"
        p.touch()
        paths.append(str(p))

    def reader():
        while not stop.is_set():
            v = log.latest_version()
            if v is None:
                continue
            try:
                m = log.read_manifest(v)
                assert m["version"] <= log.latest_version()
            except FileNotFoundError:
                pass  # racing the glob; acceptable
            except Exception as e:  # JSONDecodeError = torn publish
                torn.append(f"v{v}: {type(e).__name__}: {e}")
                return

    readers = [threading.Thread(target=reader) for _ in range(3)]
    for t in readers:
        t.start()
    try:
        for i in range(300):
            log.commit(files=[paths[i]], op="append")
    finally:
        stop.set()
        for t in readers:
            t.join()
    assert not torn, torn[:3]
    assert log.versions() == list(range(300))


def test_published_metadata_world_readable(base, spark):
    """Manifests and _last_checkpoint are published via mkstemp temps
    (0600 at create); the publish path must restore umask-governed
    permissions so a reader running as a different user can open the
    log (round-10 ADVICE)."""
    import os
    import stat

    log = TableLog(base)
    log.append(_tiny(spark, n=5, tag=1), n_files=1, tag="a")
    log.write_checkpoint(spark)

    um = os.umask(0)
    os.umask(um)
    want = 0o666 & ~um
    for p in [log._manifest_path(0), log.log_dir / "_last_checkpoint"]:
        mode = stat.S_IMODE(os.stat(p).st_mode)
        assert mode == want, f"{p}: mode {oct(mode)} != {oct(want)}"


def test_checkpoint_pointer_publish_failure_leaks_no_temp(base, spark, monkeypatch):
    """A failure between mkstemp and the pointer replace must unlink
    the hidden .lc_* temp (round-10 ADVICE)."""
    import os

    log = TableLog(base)
    log.append(_tiny(spark, n=3, tag=1), n_files=1, tag="a")

    real_replace = os.replace

    def boom(src, dst):
        if str(dst).endswith("_last_checkpoint"):
            raise OSError("injected publish failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        log.write_checkpoint(spark)
    monkeypatch.undo()
    leaked = [p.name for p in log.log_dir.iterdir() if p.name.startswith(".lc_")]
    assert leaked == []


def _sharded_fixture(log, spark, rounds=3, n=30):
    for t in range(rounds):
        log.append_manifest_sharded(_tiny(spark, n=n, tag=t), n_files=3, tag=f"s{t}")


def test_optimize_sharded_compacts_data_files(base, spark):
    """Round-10: file compaction for the sharded protocol. Three
    sharded landings (9 small files) compact to 1 right-sized file;
    the committed manifest carries a FRESH shard set; content and
    pre-OPTIMIZE time travel are intact; the commit is
    data_change=false so the change feed ignores it."""
    log = TableLog(base)
    _sharded_fixture(log, spark)
    assert len(log.resolve_files()) == 9
    assert len(log.read_manifest()["manifest_shards"]) == 3
    before = {(r.k, r.tag) for r in log.snapshot(spark).collect()}

    v = log.optimize(spark, target_rows_per_file=1_000)
    assert v == 3
    m = log.read_manifest()
    assert m["sharded"] is True and m["data_change"] is False
    assert len(log.resolve_files()) == 1
    assert len(m["manifest_shards"]) == 1
    assert {(r.k, r.tag) for r in log.snapshot(spark).collect()} == before
    # pre-OPTIMIZE snapshot still resolves through the old shard refs
    old = log.snapshot(spark, version=2)
    assert {(r.k, r.tag) for r in old.collect()} == before
    assert len(set(old.inputFiles())) == 9
    # CDF: the optimize contributes zero change-feed rows
    # (changes_between refuses an all-churn range outright)
    with pytest.raises(ValueError, match="no data-change commits"):
        log.changes_between(spark, 2, 3)
    # and a later sharded append still works on the compacted table
    log.append_manifest_sharded(_tiny(spark, n=10, tag=9), n_files=1, tag="s9")
    assert log.snapshot(spark).count() == 100


def test_optimize_sharded_rebase_carries_concurrent_append(base, spark):
    """Sharded OPTIMIZE racing a sharded append: compacted files
    replace exactly the read set; the racer's file is disjoint and
    survives in the fresh shard set."""
    log = TableLog(base)
    _sharded_fixture(log, spark, rounds=2)

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"]:
            state["raced"] = True
            log.append_manifest_sharded(_tiny(spark, n=5, tag=9), n_files=1, tag="late")
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    v = log.optimize(spark, target_rows_per_file=1_000)
    log.try_commit = orig
    assert v == 3  # two appends, racer's append, rebased optimize
    assert log.snapshot(spark).count() == 65  # 60 compacted + 5 late
    late_rows = {r.k for r in log.snapshot(spark).filter("tag = 9").collect()}
    assert len(late_rows) == 5, "concurrent sharded append discarded"
    assert log.read_manifest(v)["data_change"] is False


def test_optimize_sharded_vs_optimize_conflicts(base, spark):
    """Sharded OPTIMIZE-vs-OPTIMIZE does not commute: the loser finds
    its read set rewritten and must raise CommitConflict (silent merge
    would duplicate every row)."""
    log = TableLog(base)
    _sharded_fixture(log, spark, rounds=2)

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"]:
            state["raced"] = True
            log.optimize(spark, target_rows_per_file=1_000)  # winner
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    with pytest.raises(CommitConflict, match="rewrote files"):
        log.optimize(spark, target_rows_per_file=1_000)
    log.try_commit = orig
    # winner's compaction stands, content intact
    assert log.snapshot(spark).count() == 60
    assert len(log.resolve_files()) == 1


def test_optimize_sharded_materializes_delete_vectors(base, spark):
    """A MOR delete vector on a sharded table is consumed by OPTIMIZE:
    the compacted files hold only live rows and the DV is not carried
    forward (no resurrection)."""
    log = TableLog(base)
    _sharded_fixture(log, spark, rounds=2)
    dv = str(Path(base) / "dv")
    log.snapshot(spark).filter(F.col("k") % 4 == 0).select("k").write.mode(
        "overwrite"
    ).parquet(dv)

    def add_dv(prev):
        return [], {
            "manifest_shards": prev["manifest_shards"],
            "sharded": True,
            "delete_vectors": [dv],
        }

    log.commit(op="delete-mor", build=add_dv)
    live = {(r.k, r.tag) for r in log.snapshot(spark).collect()
            if r.k % 4 != 0}
    v = log.optimize(spark, target_rows_per_file=1_000)
    m = log.read_manifest(v)
    assert "delete_vectors" not in m
    assert {(r.k, r.tag) for r in log.snapshot(spark, v).collect()} == live


def test_vacuum_spares_registered_clone(base, spark):
    """Round-10: clone_to registers a back-pointer the source vacuum
    consults — a registered shallow clone's referenced files survive
    source OPTIMIZE + VACUUM; deleting the clone deregisters it and
    the next vacuum reclaims."""
    log = TableLog(base)
    log.append(_tiny(spark, n=40, tag=1), n_files=4, tag="a")
    before = {r.k for r in log.snapshot(spark).collect()}

    clone = log.clone_to(Path(base) / "_the_clone")
    assert {r.k for r in clone.snapshot(spark).collect()} == before

    log.optimize(spark, target_rows_per_file=1_000)
    census = log.vacuum(retain_versions=1)
    assert census["n_removed"] == 0, "vacuum deleted clone-referenced files"
    assert {r.k for r in clone.snapshot(spark).collect()} == before

    # clone's own divergence doesn't protect source garbage forever:
    # deregister by deleting the clone, re-vacuum reclaims the 4 files
    import shutil

    shutil.rmtree(clone.base)
    census2 = log.vacuum(retain_versions=1)
    assert census2["n_removed"] == 4
    assert log.snapshot(spark).count() == 40  # live snapshot intact


def test_vacuum_skips_stale_clone_pointer(base, spark):
    """A back-pointer whose clone log vanished must not wedge vacuum."""
    log = TableLog(base)
    log.append(_tiny(spark, n=20, tag=1), n_files=2, tag="a")
    clone = log.clone_to(Path(base) / "_c1")
    import shutil

    shutil.rmtree(clone.base)
    log.optimize(spark, target_rows_per_file=1_000)
    census = log.vacuum(retain_versions=1)
    assert census["n_removed"] == 2
    assert log.snapshot(spark).count() == 20


def test_sharded_optimize_concurrent_append_soak(base, spark):
    """Threaded soak for the round-10 sharded compaction: one thread
    runs repeated OPTIMIZEs (retrying past CommitConflict losses)
    while the main thread lands 12 sharded appends. Invariants at the
    end: no row lost or duplicated (every appended key exactly once),
    protocol stays sharded, every optimize that WON committed
    data_change=false, and at least one compaction landed."""
    import threading

    log = TableLog(base)
    log.append_manifest_sharded(_tiny(spark, n=10, tag=0), n_files=2, tag="s0")
    stop = threading.Event()
    wins: list[int] = []
    errors: list[str] = []

    def optimizer():
        # optimize() plans on the shared SparkSession from a second
        # thread — safe: session conf is untouched and commits go
        # through the CAS
        while not stop.is_set():
            try:
                wins.append(log.optimize(spark, target_rows_per_file=1_000))
            except CommitConflict:
                continue  # lost to an append/optimize; re-read + retry
            except Exception as e:  # pragma: no cover
                errors.append(f"{type(e).__name__}: {e}")
                return

    t = threading.Thread(target=optimizer)
    t.start()
    try:
        for i in range(1, 13):
            log.append_manifest_sharded(
                _tiny(spark, n=10, tag=i), n_files=2, tag=f"s{i}"
            )
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:3]
    assert wins, "no optimize ever won the CAS"
    rows = log.snapshot(spark).groupBy("tag").count().collect()
    got = {r.tag: r["count"] for r in rows}
    assert got == {t: 10 for t in range(13)}, "rows lost or duplicated"
    m = log.read_manifest()
    assert m.get("sharded") is True
    for v in wins:
        assert log.read_manifest(v)["data_change"] is False


# -- round-11: copy-on-write UPDATE -------------------------------------


def _bucketed(log, spark, n=100, width=25):
    df = spark.range(n).select(F.col("id").alias("k"), F.lit(0).alias("tag"))
    log.append_range_bucketed(df, "k", width, tag="base")
    return df


def test_update_cow_rewrites_only_overlapping_files(base, spark):
    """Stats-pruned COW UPDATE: only files whose recorded [min,max]
    overlaps the prune range are rewritten; the rest are carried
    byte-identical (same paths); the logical update applies exactly;
    time travel to v0 sees pre-update values; the commit is a data
    change (CDF replays it)."""
    log = TableLog(base)
    _bucketed(log, spark)  # 4 files: k ranges [0,24] [25,49] [50,74] [75,99]
    m0 = log.read_manifest()
    assert len(m0["files"]) == 4

    res = log.update_cow(
        spark,
        "k BETWEEN 10 AND 20",
        {"tag": "tag + 100"},
        prune_col="k",
        prune_lo=10,
        prune_hi=20,
    )
    assert res["files_rewritten"] == 1 and res["files_carried"] == 3
    assert res["n_matched"] == 11
    m1 = log.read_manifest()
    assert m1["data_change"] is True
    carried = set(m1["files"]) & set(m0["files"])
    untouched_expected = {
        e["path"]
        for e in m0["file_stats"]
        if not (e["stats"]["k"][0] <= 20 and e["stats"]["k"][1] >= 10)
    }
    assert carried == untouched_expected and len(carried) == 3
    # logical result: exactly rows 10..20 bumped
    rows = {r.k: r.tag for r in log.snapshot(spark).collect()}
    assert len(rows) == 100
    assert all(v == (100 if 10 <= k <= 20 else 0) for k, v in rows.items())
    # time travel: v0 unchanged
    assert all(r.tag == 0 for r in log.snapshot(spark, 0).collect())
    # carried stats: only the untouched files keep their range stats
    assert {e["path"] for e in m1.get("file_stats", [])} == untouched_expected
    # the CDF replays the rewrite (file-granularity delete+add)
    feed = log.changes_between(spark, 0, m1["version"])
    assert feed.count() > 0


def test_update_cow_without_stats_touches_all_files(base, spark):
    log = TableLog(base)
    log.append(_tiny(spark, n=40), n_files=4, tag="a")  # no stats
    res = log.update_cow(spark, "k % 2 = 0", {"tag": "tag + 1"})
    assert res["files_rewritten"] == 4 and res["files_carried"] == 0
    assert res["n_matched"] == 20
    assert log.snapshot(spark).filter("tag = 1").count() == 20


def test_update_cow_materializes_and_carries_delete_vectors(base, spark):
    """MOR-deleted rows must stay deleted through a COW rewrite of
    their file, and DVs still mask the untouched files."""
    log = TableLog(base)
    _bucketed(log, spark)
    # MOR-delete k in {5, 90} (bucket 0 and bucket 3)
    dv = str(Path(base) / "dv0")
    spark.createDataFrame([(5,), (90,)], "k bigint").coalesce(1).write.parquet(dv)
    m = log.read_manifest()
    log.commit(m["files"], op="delete-mor", extra={
        "delete_vectors": [dv], "file_stats": m["file_stats"],
    })

    res = log.update_cow(
        spark, "k BETWEEN 0 AND 10", {"tag": "tag + 7"},
        prune_col="k", prune_lo=0, prune_hi=10,
    )
    assert res["files_rewritten"] == 1
    live = log.snapshot(spark)
    m2 = log.read_manifest()
    for d in m2.get("delete_vectors", []):
        live = live.join(spark.read.parquet(d), "k", "left_anti")
    rows = {r.k: r.tag for r in live.collect()}
    assert 5 not in rows and 90 not in rows  # deleted stays deleted
    assert len(rows) == 98
    # k=5 was in the REWRITTEN file: materialized out, not resurrected
    raw = spark.read.parquet(*m2["files"])
    assert raw.filter("k = 5").count() == 0
    # k=90's file was untouched, so its delete still rides the DV
    assert raw.filter("k = 90").count() == 1
    assert m2.get("delete_vectors") == [dv]


def test_update_cow_conflicts_when_read_set_rewritten(base, spark):
    """UPDATE racing an OPTIMIZE that rewrote its read set must raise
    CommitConflict (lost-update prevention), leaving the winner's
    state intact."""
    log = TableLog(base)
    _bucketed(log, spark)

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"] and op == "update-cow":
            state["raced"] = True
            log.optimize(spark, target_rows_per_file=1_000)  # winner
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    with pytest.raises(CommitConflict, match="rewrote files"):
        log.update_cow(spark, "k < 10", {"tag": "tag + 1"})
    log.try_commit = orig
    assert log.snapshot(spark).filter("tag != 0").count() == 0


def test_update_cow_commutes_with_concurrent_append(base, spark):
    """A concurrent APPEND is disjoint from the UPDATE's read set: the
    rebase carries the appended file forward, no retry visible to the
    caller, nothing lost."""
    log = TableLog(base)
    _bucketed(log, spark)

    orig = log.try_commit
    state = {"raced": False}

    def racy_try_commit(version, files, op, extra=None):
        if not state["raced"] and op == "update-cow":
            state["raced"] = True
            log.append(_tiny(spark, n=5, tag=9), n_files=1, tag="late")
        return orig(version, files, op, extra)

    log.try_commit = racy_try_commit
    res = log.update_cow(
        spark, "k BETWEEN 10 AND 20", {"tag": "tag + 100"},
        prune_col="k", prune_lo=10, prune_hi=20,
    )
    log.try_commit = orig
    assert res["files_rewritten"] == 1
    snap = log.snapshot(spark)
    assert snap.count() == 105  # 100 + racer's 5
    assert snap.filter("tag = 100").count() == 11
    assert snap.filter("tag = 9").count() == 5, "concurrent append discarded"


# -- round-11 ADVICE: CAS-loser shard cleanup + clone pointer order ----


def _disk_vs_referenced_shards(log):
    referenced = set()
    for v in log.versions():
        referenced |= set(log.read_manifest(v).get("manifest_shards", []))
    on_disk = {str(p) for p in (log.log_dir / "shards").glob("*.json")}
    return on_disk, referenced


def test_optimize_sharded_cas_loser_unlinks_attempt_shards(base, spark):
    """A CAS-losing sharded-OPTIMIZE attempt must unlink the shard
    JSONs it wrote (they are referenced by no manifest; nothing else
    ever prunes _log/shards/)."""
    log = TableLog(base)
    _sharded_fixture(log, spark, rounds=2)

    orig = log.try_commit
    state = {"losses": 0}

    def flaky_try_commit(version, files, op, extra=None):
        if op == "optimize" and state["losses"] < 2:
            state["losses"] += 1
            # simulate another writer winning this version: an append
            # advances the log, then the CAS fails for us
            log.append_manifest_sharded(
                _tiny(spark, n=3, tag=50 + state["losses"]), n_files=1,
                tag=f"race{state['losses']}",
            )
            raise CommitConflict("simulated CAS loss")
        return orig(version, files, op, extra)

    log.try_commit = flaky_try_commit
    log.optimize(spark, target_rows_per_file=1_000)
    log.try_commit = orig
    assert state["losses"] == 2
    on_disk, referenced = _disk_vs_referenced_shards(log)
    assert on_disk == referenced, "CAS-losing attempts leaked shard JSONs"


def test_optimize_sharded_terminal_failure_leaves_no_shards(base, spark):
    """If the OPTIMIZE gives up entirely, its attempts' shards are all
    unlinked — the log directory is exactly as the winners left it."""
    log = TableLog(base)
    _sharded_fixture(log, spark, rounds=2)
    before_disk, _ = _disk_vs_referenced_shards(log)

    orig = log.try_commit

    def always_lose(version, files, op, extra=None):
        if op == "optimize":
            raise CommitConflict("simulated permanent race")
        return orig(version, files, op, extra)

    log.try_commit = always_lose
    with pytest.raises(CommitConflict):
        log.optimize(spark, target_rows_per_file=1_000)
    log.try_commit = orig
    on_disk, referenced = _disk_vs_referenced_shards(log)
    assert on_disk == before_disk == referenced


def test_compact_shards_cas_loser_unlinks_attempt_shards(base, spark):
    log = TableLog(base)
    _sharded_fixture(log, spark, rounds=3)

    orig = log.try_commit
    state = {"lost": False}

    def flaky_try_commit(version, files, op, extra=None):
        if op == "rewrite-manifests" and not state["lost"]:
            state["lost"] = True
            log.append_manifest_sharded(_tiny(spark, n=3, tag=60), n_files=1, tag="race")
            raise CommitConflict("simulated CAS loss")
        return orig(version, files, op, extra)

    log.try_commit = flaky_try_commit
    log.compact_shards()
    log.try_commit = orig
    on_disk, referenced = _disk_vs_referenced_shards(log)
    assert on_disk == referenced


def test_clone_pointer_registered_before_v0_commit(base, spark, monkeypatch):
    """The vacuum-guard back-pointer must exist BEFORE the clone's v0
    commit (round-10 ADVICE: commit-then-register left a window where
    a racing source vacuum deleted the clone's files), carry the
    pending file list while in flight, and be finalized after."""
    import json as _json

    log = TableLog(Path(base) / "src")
    log.append(_tiny(spark, n=30), n_files=3, tag="a")
    dest = Path(base) / "clone"

    seen = {}
    orig = TableLog.try_commit

    def spying_try_commit(self, version, files, op, extra=None):
        if op == "clone":
            ptrs = list(log.log_dir.glob("_clones/*.json"))
            seen["n_ptrs_at_commit"] = len(ptrs)
            seen["bodies"] = [_json.loads(p.read_text()) for p in ptrs]
        return orig(self, version, files, op, extra)

    monkeypatch.setattr(TableLog, "try_commit", spying_try_commit)
    clone = log.clone_to(dest)
    monkeypatch.undo()

    assert seen["n_ptrs_at_commit"] == 1, "pointer missing at commit time"
    body = seen["bodies"][0]
    assert set(body["pending_files"]) == set(log.read_manifest()["files"])
    # finalized afterwards: pending marker dropped
    final = [_json.loads(p.read_text()) for p in log.log_dir.glob("_clones/*.json")]
    assert len(final) == 1 and "pending_files" not in final[0]
    assert clone.snapshot(spark).count() == 30


def test_clone_failed_commit_unlinks_pointer(base, spark, monkeypatch):
    log = TableLog(Path(base) / "src")
    log.append(_tiny(spark, n=10), n_files=1, tag="a")

    orig = TableLog.try_commit

    def failing_try_commit(self, version, files, op, extra=None):
        if op == "clone":
            raise OSError("simulated publish failure")
        return orig(self, version, files, op, extra)

    monkeypatch.setattr(TableLog, "try_commit", failing_try_commit)
    with pytest.raises(OSError):
        log.clone_to(Path(base) / "clone")
    monkeypatch.undo()
    assert list(log.log_dir.glob("_clones/*.json")) == []


def test_vacuum_protects_pending_clone_files(base, spark):
    """A pending pointer (clone commit in flight) must protect exactly
    the files the clone will reference, even though the clone's own
    log does not exist yet."""
    import json as _json

    log = TableLog(Path(base) / "src")
    log.append(_tiny(spark, n=30, tag=1), n_files=3, tag="a")
    v0_files = set(log.read_manifest()["files"])
    log.optimize(spark, target_rows_per_file=1_000)  # v0 files now historical

    ptr_dir = log.log_dir / "_clones"
    ptr_dir.mkdir(exist_ok=True)
    (ptr_dir / "pending.json").write_text(_json.dumps({
        "clone_base": str(Path(base) / "never_created"),
        "pending_files": sorted(v0_files),
    }))
    census = log.vacuum(retain_versions=1)
    assert census["n_removed"] == 0
    assert all(Path(p).exists() for p in v0_files)


def test_vacuum_prunes_stale_clone_pointers(base, spark):
    """A finalized pointer whose clone log is gone is pruned (they
    previously accumulated forever) — and the files it guarded become
    vacuumable again."""
    log = TableLog(Path(base) / "src")
    log.append(_tiny(spark, n=30, tag=1), n_files=3, tag="a")
    v0_files = set(log.read_manifest()["files"])
    clone_dir = Path(base) / "clone"
    log.clone_to(clone_dir)
    log.optimize(spark, target_rows_per_file=1_000)

    assert log.vacuum(retain_versions=1)["n_removed"] == 0  # clone guards v0
    shutil.rmtree(clone_dir)  # clone deleted -> deregistered
    census = log.vacuum(retain_versions=1)
    assert census["n_removed"] == len(v0_files)
    assert list(log.log_dir.glob("_clones/*.json")) == [], "stale pointer kept"


def test_published_mode_does_not_mutate_umask():
    """_published_mode must be a pure read of the import-time constant
    — the per-call umask probe was a thread-safety hazard (round-10
    ADVICE: files created by concurrent threads while one thread held
    umask(0) were born world-writable)."""
    import os

    from chess_ratings_spark.operators import tablelog as tl

    before = os.umask(0o027)
    os.umask(before)
    try:
        os.umask(0o027)
        mode1 = tl._published_mode()
        # a racing thread reading the umask mid-call would see 0o027,
        # never 0: the function performs no umask() syscall at all
        assert mode1 == tl._PUBLISHED_MODE
        assert os.umask(0o027) == 0o027  # unchanged by the call
    finally:
        os.umask(before)


def test_vacuum_racing_real_clone_cannot_delete_its_files(base, spark, monkeypatch):
    """The round-11 review caught the first pending-pointer cut keying
    protection on 'clone _log dir missing' — dead code, because
    TableLog.__init__ mkdirs the clone's _log BEFORE the pointer is
    written. This test runs the REAL clone_to flow and fires a source
    vacuum exactly in the in-flight window (pointer written, v0 commit
    not yet landed): the clone's files must survive and the clone must
    be readable afterwards."""
    log = TableLog(Path(base) / "src")
    log.append(_tiny(spark, n=30, tag=1), n_files=3, tag="a")
    v0_files = set(log.read_manifest()["files"])
    log.optimize(spark, target_rows_per_file=1_000)  # v0 files historical

    orig = TableLog.try_commit
    raced = {}

    def racing_try_commit(self, version, files, op, extra=None):
        if op == "clone" and not raced:
            raced["census"] = log.vacuum(retain_versions=1)
        return orig(self, version, files, op, extra)

    monkeypatch.setattr(TableLog, "try_commit", racing_try_commit)
    clone = log.clone_to(Path(base) / "clone", version=0)
    monkeypatch.undo()

    assert raced, "vacuum did not actually race the clone commit"
    assert all(Path(p).exists() for p in v0_files), (
        "vacuum deleted files the in-flight clone references"
    )
    assert {r.k for r in clone.snapshot(spark).collect()} == set(range(1000, 1030))
    # and a later vacuum still protects them through the clone's log
    log.vacuum(retain_versions=1)
    assert all(Path(p).exists() for p in v0_files)


def test_vacuum_second_scan_catches_late_clone_registration(base, spark, monkeypatch):
    """A clone that registers AFTER vacuum computed its live set but
    before the unlink loop must still be protected — vacuum re-scans
    _clones right before deleting."""
    log = TableLog(Path(base) / "src")
    log.append(_tiny(spark, n=30, tag=1), n_files=3, tag="a")
    v0_files = set(log.read_manifest()["files"])
    log.optimize(spark, target_rows_per_file=1_000)

    real_scan = TableLog._clone_referenced_files
    state = {"first": True}

    def late_registering_scan(self, *, prune_stale):
        if state["first"]:
            state["first"] = False
            out = real_scan(self, prune_stale=prune_stale)
            # clone registers between the scans
            log.clone_to(Path(base) / "clone", version=0)
            return out
        return real_scan(self, prune_stale=prune_stale)

    monkeypatch.setattr(TableLog, "_clone_referenced_files", late_registering_scan)
    census = log.vacuum(retain_versions=1)
    monkeypatch.undo()
    assert census["n_removed"] == 0
    assert all(Path(p).exists() for p in v0_files)


def test_branch_vacuum_honors_main_registered_clones(base, spark):
    """Branches share the table's data directory, so a vacuum run
    THROUGH A BRANCH HANDLE must honor clone back-pointers registered
    on main — otherwise the branch vacuum deletes files only the
    main-registered clone still references."""
    log = TableLog(Path(base) / "src")
    log.append(_tiny(spark, n=30, tag=1), n_files=3, tag="a")
    v0_files = set(log.read_manifest()["files"])
    clone = log.clone_to(Path(base) / "clone", version=0)  # registered on main
    br = log.create_branch("wip")
    log.optimize(spark, target_rows_per_file=1_000)  # v0 files historical

    census = br.vacuum(retain_versions=1)
    assert census["n_removed"] == 0
    assert all(Path(p).exists() for p in v0_files), (
        "branch-handle vacuum deleted files a main-registered clone references"
    )
    assert {r.k for r in clone.snapshot(spark).collect()} == set(range(1000, 1030))


# -- round-11 staging for r12: MOR UPDATE via file-scoped DVs ----------


def test_update_mor_rewrites_nothing_and_masks_old_versions(base, spark):
    """MOR UPDATE: no data file is rewritten — the old row versions are
    masked by (file, key) pairs and the new versions appended. The raw
    bytes still contain the stale rows (proof nothing was rewritten);
    snapshot_mor sees exactly the updated table; v0 time travel via
    snapshot_mor is intact."""
    log = TableLog(base)
    _bucketed(log, spark)  # 4 files, k 0..99, tag 0
    m0_files = set(log.read_manifest()["files"])

    res = log.update_mor(
        spark, "k BETWEEN 10 AND 20", {"tag": "tag + 100"}, ["k"]
    )
    assert res["files_rewritten"] == 0
    assert res["files_appended"] == 1
    assert res["n_matched"] == 11
    m1 = log.read_manifest()
    assert m0_files <= set(m1["files"])  # nothing dropped
    assert len(m1["delete_vectors_scoped"]) == 1
    assert m1["data_change"] is True
    rows = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert len(rows) == 100
    assert all(v == (100 if 10 <= k <= 20 else 0) for k, v in rows.items())
    # raw bytes of the ORIGINAL files still hold the stale versions
    raw = spark.read.parquet(*sorted(m0_files))
    assert raw.filter("k = 15 AND tag = 0").count() == 1
    # time travel (MOR view of v0): pre-update values
    assert all(r.tag == 0 for r in log.snapshot_mor(spark, 0).collect())


def test_update_mor_stacks_and_optimize_materializes(base, spark):
    """Two sequential MOR updates of the same key compose (the second
    masks the first's appended file); OPTIMIZE then materializes
    everything — raw files hold only final values, the scoped list is
    consumed, and pre-optimize versions stay readable."""
    log = TableLog(base)
    _bucketed(log, spark)
    log.update_mor(spark, "k = 7", {"tag": "tag + 100"}, ["k"])
    log.update_mor(spark, "k = 7", {"tag": "tag + 100"}, ["k"])
    rows = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert rows[7] == 200 and len(rows) == 100
    assert len(log.read_manifest()["delete_vectors_scoped"]) == 2

    v = log.optimize(spark, target_rows_per_file=1_000)
    m = log.read_manifest()
    assert "delete_vectors_scoped" not in m
    raw = spark.read.parquet(*m["files"])
    assert raw.count() == 100
    assert raw.filter("k = 7").collect()[0].tag == 200
    # MOR view unchanged by the materialization
    rows2 = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert rows2 == rows
    # pre-optimize MOR time travel still works through the old files
    assert {
        r.tag for r in log.snapshot_mor(spark, v - 1).filter("k = 7").collect()
    } == {200}


def test_update_mor_refuses_ambiguous_keys(base, spark):
    """A (file, key) pair masks every in-file row sharing the key — if
    an UNMATCHED row shares it, data would be silently lost. The verb
    must detect the ambiguity and refuse."""
    log = TableLog(base)
    df = spark.createDataFrame(
        [(1, 0), (1, 999), (2, 0)], "k bigint, v bigint"
    )
    log.append(df.coalesce(1), n_files=1, tag="a")
    with pytest.raises(ValueError, match="uniquely identify"):
        # predicate matches only (k=1, v=0) but the pair (file, k=1)
        # would also mask (k=1, v=999)
        log.update_mor(spark, "k = 1 AND v = 0", {"v": "v + 1"}, ["k"])
    # nothing committed, no scoped DV attached
    assert "delete_vectors_scoped" not in log.read_manifest()
    assert log.snapshot_mor(spark).count() == 3


def test_update_mor_commutes_with_append_conflicts_with_rewrite(base, spark):
    log = TableLog(base)
    _bucketed(log, spark)

    orig = log.try_commit
    state = {"raced": False}

    def racing_append(version, files, op, extra=None):
        if not state["raced"] and op == "update-mor":
            state["raced"] = True
            log.append(_tiny(spark, n=5, tag=9), n_files=1, tag="late")
        return orig(version, files, op, extra)

    log.try_commit = racing_append
    res = log.update_mor(spark, "k < 5", {"tag": "tag + 1"}, ["k"])
    log.try_commit = orig
    assert res["n_matched"] == 5
    snap = log.snapshot_mor(spark)
    assert snap.count() == 105  # 100 + racer's 5, nothing lost
    assert snap.filter("tag = 1").count() == 5
    assert snap.filter("tag = 9").count() == 5

    state = {"raced": False}

    def racing_optimize(version, files, op, extra=None):
        if not state["raced"] and op == "update-mor":
            state["raced"] = True
            log.optimize(spark, target_rows_per_file=1_000)
        return orig(version, files, op, extra)

    log.try_commit = racing_optimize
    with pytest.raises(CommitConflict, match="rewrote files"):
        log.update_mor(spark, "k < 5", {"tag": "tag + 1"}, ["k"])
    log.try_commit = orig


def test_update_mor_conflicts_with_concurrent_update_mor(base, spark):
    """Two MOR updates racing from the same snapshot must NOT both
    commit (Delta's ConcurrentDeleteDelete class): each racer's pairs
    mask only the base rows it read, not the other racer's appended
    new-version — merging leaves BOTH new versions live, so a key
    updated by both surfaces twice (measured before the scoped-DV-list
    conflict rule: k=3 came back as two rows). The loser must also
    unlink its DV artifact eagerly, so the orphan doesn't sit until a
    vacuum's _dvs/ sweep ages it past the grace horizon."""
    log = TableLog(base)
    _bucketed(log, spark)

    orig = log.try_commit
    state = {"raced": False}

    def racing_update_mor(version, files, op, extra=None):
        if not state["raced"] and op == "update-mor":
            state["raced"] = True
            # a second handle = a second writer; its commit lands first
            TableLog(base).update_mor(
                spark, "k = 3", {"tag": "tag + 200"}, ["k"]
            )
        return orig(version, files, op, extra)

    log.try_commit = racing_update_mor
    with pytest.raises(CommitConflict, match="scoped-DV list changed"):
        log.update_mor(spark, "k = 3", {"tag": "tag + 100"}, ["k"])
    log.try_commit = orig

    rows = log.snapshot_mor(spark).filter("k = 3").collect()
    assert len(rows) == 1, "both racers' new versions went live"
    assert rows[0]["tag"] == 200  # the winner's update, exactly once
    dvs = list((Path(base) / "_dvs").glob("*"))
    assert len(dvs) == 1, "CAS loser leaked its scoped-DV artifact"

    # the caller's prescribed recovery — re-run on the new snapshot —
    # stacks cleanly on the winner's commit
    res = log.update_mor(spark, "k = 3", {"tag": "tag + 100"}, ["k"])
    assert res["n_matched"] == 1
    rows = log.snapshot_mor(spark).filter("k = 3").collect()
    assert len(rows) == 1 and rows[0]["tag"] == 300


def test_optimize_conflicts_with_concurrent_mor_update(base, spark):
    """The dual race: OPTIMIZE must not merge past a MOR update that
    attached pairs to files the rewrite is dropping — the update's old
    rows would reappear unmasked in the compacted output."""
    log = TableLog(base)
    _bucketed(log, spark)

    orig = log.try_commit
    state = {"raced": False}

    def racing_umor(version, files, op, extra=None):
        if not state["raced"] and op == "optimize":
            state["raced"] = True
            log.update_mor(spark, "k = 3", {"tag": "tag + 1"}, ["k"])
        return orig(version, files, op, extra)

    log.try_commit = racing_umor
    with pytest.raises(CommitConflict, match="MOR update during OPTIMIZE"):
        log.optimize(spark, target_rows_per_file=1_000)
    log.try_commit = orig
    # the MOR update won; its view stands
    rows = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert rows[3] == 1 and len(rows) == 100


def test_update_mor_then_cow_update_composes(base, spark):
    """COW update over a table carrying scoped pairs: the touched-file
    rewrite materializes the pairs' masks for those files (they go
    inert when the file drops), untouched files stay masked, and the
    logical view composes both updates."""
    log = TableLog(base)
    _bucketed(log, spark)
    log.update_mor(spark, "k = 7", {"tag": "tag + 100"}, ["k"])   # bucket 0
    log.update_mor(spark, "k = 80", {"tag": "tag + 300"}, ["k"])  # bucket 3
    # COW rewrite of bucket 0 only
    res = log.update_cow(
        spark, "k BETWEEN 0 AND 9", {"tag": "tag + 5"},
        prune_col="k", prune_lo=0, prune_hi=9,
    )
    assert res["files_rewritten"] >= 1
    rows = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert len(rows) == 100
    assert rows[7] == 105   # MOR +100 materialized, then COW +5
    assert rows[80] == 300  # untouched file: still masked by its pair
    assert rows[3] == 5 and rows[50] == 0


def test_changes_between_emits_mor_update_as_delete_plus_insert(base, spark):
    log = TableLog(base)
    _bucketed(log, spark)
    v1 = log.update_mor(spark, "k = 42", {"tag": "tag + 9"}, ["k"])["version"]
    feed = log.changes_between(spark, 0, v1)
    rows = [(r.k, r.tag, r._change_type) for r in feed.collect()]
    assert (42, 0, "delete") in rows
    assert (42, 9, "insert") in rows
    assert len(rows) == 2


# -- merge_mor: MOR MERGE INTO (upsert via scoped DVs) -----------------


def test_merge_mor_upserts_without_rewriting(base, spark):
    """MERGE: matched keys masked + replaced, new keys inserted, ZERO
    files rewritten; v0 time travel intact; CDF = delete(masked) +
    insert(all source rows)."""
    log = TableLog(base)
    _bucketed(log, spark)  # k 0..99, tag 0
    m0_files = set(log.read_manifest()["files"])

    src = _tiny(spark, n=10, tag=5).withColumn(
        "k", F.col("k") - 5000 + 90
    )  # keys 90..99 (updates) -- tag 5
    new = _tiny(spark, n=5, tag=7).withColumn("k", F.col("k") - 7000 + 200)
    res = log.merge_mor(spark, src.unionByName(new), ["k"])
    assert res["files_rewritten"] == 0
    assert res["files_appended"] == 1
    assert res["n_updated"] == 10
    assert res["n_inserted"] == 5
    m1 = log.read_manifest()
    assert m0_files <= set(m1["files"])
    assert m1["data_change"] is True
    rows = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert len(rows) == 105
    assert all(rows[k] == 5 for k in range(90, 100))
    assert all(rows[k] == 7 for k in range(200, 205))
    assert all(rows[k] == 0 for k in range(0, 90))
    # v0 untouched
    assert all(r.tag == 0 for r in log.snapshot_mor(spark, 0).collect())
    feed = log.changes_between(spark, 0, res["version"])
    cdf = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert cdf == {"delete": 10, "insert": 15}


def test_merge_mor_refuses_ambiguous_keys(base, spark):
    log = TableLog(base)
    _bucketed(log, spark)
    # duplicate source keys: two source rows would match one target row
    dup = _tiny(spark, n=2, tag=1).withColumn("k", F.lit(3).cast("bigint"))
    try:
        log.merge_mor(spark, dup, ["k"])
        raise AssertionError("duplicate source keys accepted")
    except ValueError as e:
        assert "unique source keys" in str(e)
    # duplicate TARGET keys: upsert would collapse two rows into one
    log.append(
        _tiny(spark, n=1, tag=2).withColumn("k", F.lit(3).cast("bigint")),
        1,
        "dup",
    )
    one = _tiny(spark, n=1, tag=9).withColumn("k", F.lit(3).cast("bigint"))
    try:
        log.merge_mor(spark, one, ["k"])
        raise AssertionError("duplicate target keys accepted")
    except ValueError as e:
        assert "unique target keys" in str(e)
    # no partial state leaked: no scoped DV, no new version beyond the dup append
    m = log.read_manifest()
    assert not m.get("delete_vectors_scoped")


def test_merge_mor_conflicts_with_any_concurrent_commit(base, spark):
    """MERGE is stricter than update_mor: even a concurrent APPEND
    conflicts (it may insert keys this merge also inserts — invisible
    to both writers, surfacing later as duplicates). The loser's DV
    artifact is unlinked."""
    log = TableLog(base)
    _bucketed(log, spark)

    orig = log.try_commit
    state = {"raced": False}

    def racing_append(version, files, op, extra=None):
        if not state["raced"] and op == "merge-mor":
            state["raced"] = True
            TableLog(base).append(_tiny(spark, n=5, tag=9), 1, "late")
        return orig(version, files, op, extra)

    log.try_commit = racing_append
    src = _tiny(spark, n=3, tag=5).withColumn("k", F.col("k") - 5000)
    with pytest.raises(CommitConflict, match="concurrent commit during MERGE"):
        log.merge_mor(spark, src, ["k"])
    log.try_commit = orig
    assert not list((Path(base) / "_dvs").glob("*")), "loser leaked its DV"
    # prescribed recovery: re-run on the new snapshot
    res = log.merge_mor(spark, src, ["k"])
    assert res["n_updated"] == 3
    snap = log.snapshot_mor(spark)
    assert snap.count() == 105  # 100 + racer's 5 (keys 9000..) + 0 new
    assert snap.filter("tag = 5").count() == 3


def test_merge_mor_stacks_and_optimize_materializes(base, spark):
    """Sequential merges compose (second masks the first's appended
    versions); OPTIMIZE rewrites everything with masks materialized and
    drops the now-inert scoped DVs."""
    log = TableLog(base)
    _bucketed(log, spark)
    one = _tiny(spark, n=1, tag=1).withColumn("k", F.lit(42).cast("bigint"))
    log.merge_mor(spark, one, ["k"])
    two = _tiny(spark, n=1, tag=2).withColumn("k", F.lit(42).cast("bigint"))
    log.merge_mor(spark, two, ["k"])
    rows = log.snapshot_mor(spark).filter("k = 42").collect()
    assert len(rows) == 1 and rows[0]["tag"] == 2
    before = log.snapshot_mor(spark).orderBy("k", "tag").collect()
    log.optimize(spark, target_rows_per_file=1_000)
    after = log.snapshot_mor(spark).orderBy("k", "tag").collect()
    assert before == after
    assert not log.read_manifest().get("delete_vectors_scoped"), (
        "OPTIMIZE must consume materialized scoped DVs"
    )


def test_branch_fork_carries_scoped_dvs(base, spark):
    """A branch forked after MOR updates must carry the scoped-DV list:
    without it the fork's snapshot_mor resurrects the masked OLD
    versions (every updated key comes back twice). Publish must then
    round-trip the branch's own scoped state back to main."""
    log = TableLog(base)
    _bucketed(log, spark)
    log.update_mor(spark, "k BETWEEN 10 AND 14", {"tag": "tag + 50"}, ["k"])

    br = log.create_branch("audit")
    main_rows = sorted((r.k, r.tag) for r in log.snapshot_mor(spark).collect())
    br_rows = sorted((r.k, r.tag) for r in br.snapshot_mor(spark).collect())
    assert br_rows == main_rows, "fork lost the scoped-DV masks"

    # a further MOR update ON the branch stays branch-local, then
    # publishes — scoped list intact end to end
    br.update_mor(spark, "k = 12", {"tag": "tag + 1"}, ["k"])
    assert log.snapshot_mor(spark).filter("k = 12").collect()[0]["tag"] == 50
    log.fast_forward(br, "audit")
    rows = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert len(rows) == 100
    assert rows[12] == 51 and rows[11] == 50 and rows[9] == 0


def test_vacuum_reclaims_superseded_scoped_dvs(base, spark):
    """Scoped-DV artifacts must be swept by vacuum's liveness rule:
    referenced by a retained manifest (any sibling log), a registered
    clone, or a pending clone pointer => live; superseded (OPTIMIZE
    materialized the masks) and aged-out => reclaimed. They previously
    accumulated forever."""
    log = TableLog(base)
    _bucketed(log, spark)
    log.update_mor(spark, "k BETWEEN 5 AND 9", {"tag": "tag + 1"}, ["k"])
    log.update_mor(spark, "k = 50", {"tag": "tag + 2"}, ["k"])
    dvs = lambda: {p.name for p in (Path(base) / "_dvs").glob("*")}  # noqa: E731
    assert len(dvs()) == 2

    # both artifacts still referenced by the latest manifest: live
    res = log.vacuum(retain_versions=1)
    assert res["n_dvs_removed"] == 0 and len(dvs()) == 2

    # OPTIMIZE materializes the masks and drops the scoped list; with
    # only the optimized version retained, both artifacts are dead —
    # but the default mtime grace horizon protects young unreferenced
    # artifacts (an in-flight MOR writer's artifact exists before the
    # manifest that references it), so reclamation needs grace=0
    log.optimize(spark, target_rows_per_file=1_000)
    before = log.snapshot_mor(spark).orderBy("k").collect()
    res = log.vacuum(retain_versions=1)
    assert res["n_dvs_removed"] == 0 and res["n_dvs_in_grace"] == 2, (
        "default grace horizon must protect young unreferenced artifacts"
    )
    res = log.vacuum(retain_versions=1, dv_grace_seconds=0)
    assert res["n_dvs_removed"] == 2 and dvs() == set()
    assert log.snapshot_mor(spark).orderBy("k").collect() == before

    # a registered CLONE of a scoped version keeps its artifacts live
    # (grace=0 so the clone guard, not the grace horizon, is what's
    # being proven)
    log.update_mor(spark, "k = 7", {"tag": "tag + 5"}, ["k"])
    clone_base = Path(base) / "clone_dest"
    log.clone_to(clone_base)
    log.optimize(spark, target_rows_per_file=1_000)
    res = log.vacuum(retain_versions=1, dv_grace_seconds=0)
    assert res["n_dvs_removed"] == 0 and len(dvs()) == 1, (
        "vacuum destroyed an artifact a registered clone references"
    )
    clone = TableLog(clone_base)
    assert clone.snapshot_mor(spark).filter("k = 7").collect()[0]["tag"] == 6


def test_mor_writers_concurrent_soak(base, spark):
    """Threaded soak for the round-11 MOR writers, past the
    deterministic race injections: 3 threads each run 4 MOR
    upserts/updates against DISJOINT key ranges, retrying through
    CommitConflict (the prescribed recovery — every writer conflicts
    on any concurrent scoped-DV change, so contention is the norm
    here, not the exception). Invariants at the end: every thread's
    final value won exactly once per key (nothing lost, nothing
    duplicated, no stale version resurfaced), the scoped-DV stack
    replays through snapshot_mor AND time travel, and no thread hit a
    non-conflict error or livelocked past its retry budget."""
    import threading

    log = TableLog(base)
    _bucketed(log, spark)  # k 0..99, tag 0
    errors: list[str] = []
    gaveup: list[str] = []

    def writer(tid: int):
        # each thread owns keys [tid*20, tid*20+5) — disjoint ranges,
        # so all interleavings are serializable to the same final state
        own = TableLog(base)  # separate handle: no shared mutable state
        lo = tid * 20
        for step in range(1, 5):
            for attempt in range(80):
                try:
                    if step % 2:
                        own.update_mor(
                            spark,
                            f"k BETWEEN {lo} AND {lo + 4}",
                            {"tag": f"{tid * 1000 + step}"},
                            ["k"],
                        )
                    else:
                        src = spark.range(lo, lo + 5).select(
                            F.col("id").alias("k"),
                            F.lit(tid * 1000 + step).cast("int").alias(
                                "tag"
                            ),
                        )
                        own.merge_mor(spark, src, ["k"])
                    break
                except CommitConflict:
                    continue
                except Exception as e:  # pragma: no cover
                    errors.append(f"t{tid} step{step}: {type(e).__name__}: {e}")
                    return
            else:
                gaveup.append(f"t{tid} step{step}")
                return

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    assert not gaveup, f"livelock: {gaveup}"
    rows = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert len(rows) == 100, "row lost or duplicated under contention"
    for tid in range(3):
        for k in range(tid * 20, tid * 20 + 5):
            assert rows[k] == tid * 1000 + 4, (k, rows[k])
    assert all(
        rows[k] == 0
        for k in range(100)
        if not any(t * 20 <= k < t * 20 + 5 for t in range(3))
    )
    # the whole stacked history stays time-travelable
    assert all(r.tag == 0 for r in log.snapshot_mor(spark, 0).collect())


def test_merge_mor_refuses_type_divergent_source(base, spark):
    """A merge source whose column types diverge from the table would
    commit a file the union scan can no longer read (every later
    snapshot_mor fails with a parquet type mismatch — the soak test
    found this the hard way). merge_mor must refuse at write time."""
    log = TableLog(base)
    _bucketed(log, spark)  # tag is INT
    bad = _tiny(spark, n=1, tag=1).withColumn(
        "tag", F.col("tag").cast("bigint")
    )
    with pytest.raises(ValueError, match="type-divergent source"):
        log.merge_mor(spark, bad, ["k"])
    # nothing committed, table still reads
    assert log.snapshot_mor(spark).count() == 100


def test_merge_mor_refuses_globally_deleted_source_keys(base, spark):
    """A source key masked by a key-GLOBAL delete vector cannot be
    upserted: the carried-forward DV would re-mask the appended new
    version on every read — the 'insert' would count in the census and
    never become visible. The verb must refuse and prescribe OPTIMIZE
    (which materializes global DVs and drops them); after OPTIMIZE the
    same merge resurrects the key cleanly."""
    log = TableLog(base)
    _bucketed(log, spark)
    # key-global MOR delete of k=7 (the lake_delete_mor shape)
    dv = Path(base) / "global_dv"
    spark.createDataFrame([(7,)], "k bigint").coalesce(1).write.parquet(str(dv))
    m = log.read_manifest()
    log.commit(
        m["files"], op="delete-mor",
        extra={"delete_vectors": [str(dv)]},
    )
    assert log.snapshot_mor(spark).filter("k = 7").count() == 0

    src = _tiny(spark, n=1, tag=3).withColumn("k", F.lit(7).cast("bigint"))
    with pytest.raises(ValueError, match="masked by key-global delete"):
        log.merge_mor(spark, src, ["k"])
    # the prescribed path: OPTIMIZE materializes, then the merge works
    log.optimize(spark, target_rows_per_file=1_000)
    res = log.merge_mor(spark, src, ["k"])
    assert res["n_inserted"] == 1 and res["n_updated"] == 0
    rows = log.snapshot_mor(spark).filter("k = 7").collect()
    assert len(rows) == 1 and rows[0]["tag"] == 3


def test_update_verbs_refuse_type_changing_assignments(base, spark):
    """An assign expression that changes a column's type would commit a
    file the union scan can't read (the merge_mor schema guard's
    failure mode through the sibling verbs). Both UPDATE flavors must
    refuse before landing anything."""
    log = TableLog(base)
    _bucketed(log, spark)  # tag INT
    with pytest.raises(ValueError, match=r"changes the schema.*tag: int -> "):
        log.update_mor(spark, "k = 3", {"tag": "tag * 1.1"}, ["k"])
    with pytest.raises(ValueError, match=r"changes the schema.*tag: int -> bigint"):
        log.update_cow(spark, "k = 3", {"tag": "cast(tag as bigint)"})
    # an assignment that INTRODUCES a column refuses too — and the
    # message must name the added column, not print an empty list
    # (round-11 ADVICE: 'changes column types ():')
    with pytest.raises(ValueError, match=r"added: brand_new"):
        log.update_mor(spark, "k = 3", {"brand_new": "1"}, ["k"])
    # nothing committed, table still reads, version unmoved
    assert log.latest_version() == 0
    assert log.snapshot_mor(spark).count() == 100


def test_mor_commit_refuses_vanished_dv_artifact(base, spark):
    """A scoped-DV artifact exists BEFORE the manifest that references
    it; a concurrent vacuum with dv_grace_seconds=0 can sweep it in
    that window. The verbs must re-check the artifact right before
    publishing and abort — publishing would reference a missing
    artifact and break every MOR read of a commit that 'succeeded'
    (round-11 ADVICE). Injection: sweep _dvs/ inside _land, i.e. after
    the artifact write but before the commit attempt."""
    import shutil as _sh

    log = TableLog(base)
    _bucketed(log, spark)
    orig_land = log._land

    def land_then_hostile_vacuum(df, n_files, tag):
        out = orig_land(df, n_files, tag)
        _sh.rmtree(Path(base) / "_dvs", ignore_errors=True)
        return out

    log._land = land_then_hostile_vacuum
    with pytest.raises(RuntimeError, match="vanished before publish"):
        log.update_mor(spark, "k = 3", {"tag": "tag + 1"}, ["k"])
    log._land = orig_land
    # nothing published: version unmoved, table reads clean
    assert log.latest_version() == 0
    assert log.snapshot_mor(spark).count() == 100

    log._land = land_then_hostile_vacuum
    # tag=0 keys (k=0,1) MATCH existing rows, so the merge writes a DV
    with pytest.raises(RuntimeError, match="vanished before publish"):
        log.merge_mor(spark, _tiny(spark, n=2, tag=0), ["k"])
    log._land = orig_land
    assert log.latest_version() == 0
    assert log.snapshot_mor(spark).count() == 100


def test_vacuum_grace_protects_inflight_dv_artifact(base, spark):
    """The race the grace horizon closes: an artifact written but not
    yet referenced by any manifest must survive a concurrent vacuum at
    the default grace, and an aged-out artifact (mtime backdated past
    the horizon) is reclaimed."""
    import os

    log = TableLog(base)
    _bucketed(log, spark)
    # hand-write an unreferenced artifact the way update_mor does,
    # simulating the instant before its commit publishes
    dv_dir = Path(base) / "_dvs"
    dv_dir.mkdir(exist_ok=True)
    inflight = dv_dir / "inflight.parquet"
    spark.range(1).select(
        F.lit("somefile").alias("_dv_file"), F.col("id").alias("k")
    ).coalesce(1).write.parquet(str(inflight))

    res = log.vacuum(retain_versions=1)
    assert res["n_dvs_removed"] == 0 and res["n_dvs_in_grace"] == 1
    assert inflight.exists(), "vacuum swept an in-flight DV artifact"

    # age it past the horizon: now it's an orphan, reclaimed
    old = 10_000
    os.utime(inflight, (os.stat(inflight).st_atime, os.stat(inflight).st_mtime - old))
    res = log.vacuum(retain_versions=1, dv_grace_seconds=old / 2)
    assert res["n_dvs_removed"] == 1 and not inflight.exists()


def test_merge_mor_delete_unmatched_full_three_clause(base, spark):
    """Delta's 3-clause MERGE (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT / WHEN NOT MATCHED BY SOURCE DELETE): matched rows take the
    source version, new keys insert, unmatched target rows satisfying
    the clause predicate are masked — all in ONE commit, one scoped-DV
    artifact, zero files rewritten."""
    log = TableLog(base)
    _bucketed(log, spark)  # k 0..99, tag 0
    upd = _tiny(spark, n=10, tag=0).withColumn("tag", F.lit(5))  # k 0..9
    ins = _tiny(spark, n=5, tag=1)  # k 1000..1004, tag 1
    res = log.merge_mor(
        spark, upd.unionByName(ins), ["k"], delete_unmatched="k >= 90"
    )
    assert res["n_updated"] == 10
    assert res["n_inserted"] == 5
    assert res["n_deleted"] == 10
    assert res["files_rewritten"] == 0 and res["files_appended"] == 1

    rows = {r.k: r.tag for r in log.snapshot_mor(spark).collect()}
    assert len(rows) == 95  # 100 - 10 deleted + 5 inserted
    assert all(rows[k] == 5 for k in range(10))
    assert all(rows[k] == 0 for k in range(10, 90))
    assert all(rows[k] == 1 for k in range(1000, 1005))
    assert not any(k in rows for k in range(90, 100))

    # CDF replays delete(masked updates + clause deletes) + insert
    feed = log.changes_between(spark, 0, res["version"])
    cdf = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert cdf.get("delete", 0) == res["n_updated"] + res["n_deleted"]
    assert cdf.get("insert", 0) == res["n_updated"] + res["n_inserted"]

    # time travel: v0 fully intact underneath the masks
    assert log.snapshot_mor(spark, 0).count() == 100


def test_merge_mor_delete_unmatched_unconditional_replaces(base, spark):
    """delete_unmatched='true' makes the 3-clause MERGE a full logical
    replace: the table's live content IS the source afterwards — while
    v0 stays readable (a rewrite would have destroyed it)."""
    log = TableLog(base)
    _bucketed(log, spark)
    src = _tiny(spark, n=7, tag=3)  # k 3000..3006: all inserts
    res = log.merge_mor(spark, src, ["k"], delete_unmatched="true")
    assert res["n_updated"] == 0 and res["n_inserted"] == 7
    assert res["n_deleted"] == 100
    got = sorted((r.k, r.tag) for r in log.snapshot_mor(spark).collect())
    want = sorted((r.k, r.tag) for r in src.collect())
    assert got == want
    assert log.snapshot_mor(spark, 0).count() == 100


def test_merge_mor_delete_unmatched_empty_source_pure_delete(base, spark):
    """An EMPTY source with the delete clause is a pure predicate
    delete through MERGE: no keys match, nothing lands (no empty files
    appended), the clause masks what it selects."""
    log = TableLog(base)
    _bucketed(log, spark)
    empty = _tiny(spark, n=0, tag=0)
    res = log.merge_mor(spark, empty, ["k"], delete_unmatched="k < 30")
    assert res["n_updated"] == 0 and res["n_inserted"] == 0
    assert res["n_deleted"] == 30
    assert res["files_appended"] == 0
    assert log.snapshot_mor(spark).count() == 70
    assert log.snapshot_mor(spark).filter("k < 30").count() == 0


def test_merge_mor_delete_unmatched_refuses_ambiguous_mask(base, spark):
    """The scoped mask is (file, key) pairs: if the delete clause dooms
    one of two same-key rows in a file, the pair would ALSO mask the
    survivor — the verb must refuse rather than silently over-delete."""
    log = TableLog(base)
    df = spark.range(20).select(
        (F.col("id") % 10).alias("k"), (F.col("id") / 10).cast("int").alias("tag")
    )  # every k twice: tag 0 and tag 1, same bucket file per k
    log.append_range_bucketed(df, "k", width=100, tag="dup")
    src = _tiny(spark, n=1, tag=7)  # k 7000: pure insert, matches nothing
    with pytest.raises(ValueError, match="uniquely identify"):
        log.merge_mor(spark, src, ["k"], delete_unmatched="tag = 1")
    # nothing committed
    assert log.latest_version() == 0
    assert log.snapshot_mor(spark).count() == 20


def test_commit_refuses_vanished_data_files(base, spark):
    """The data-file twin of the DV pre-publish guard (round-12
    self-review #1): landed files can be swept by a grace-0 vacuum
    before the manifest referencing them publishes — the commit must
    abort loudly instead of publishing a manifest that references
    missing files. Injection: unlink the landing between _land and
    commit."""
    import os

    log = TableLog(base)
    _bucketed(log, spark)
    orig_land = log._land

    def land_then_sweep(df, n_files, tag):
        out = orig_land(df, n_files, tag)
        for f in out:
            os.unlink(f)
        return out

    log._land = land_then_sweep
    with pytest.raises(RuntimeError, match="vanished before publish"):
        log.append(_tiny(spark, n=5, tag=1), n_files=1, tag="x")
    log._land = orig_land
    assert log.latest_version() == 0
    assert log.snapshot_mor(spark).count() == 100


def test_merge_mor_noop_clause_does_not_commit(base, spark):
    """An empty source whose delete clause matches nothing must NOT
    publish a data-change version identical to its parent (round-12
    self-review #2)."""
    log = TableLog(base)
    _bucketed(log, spark)
    res = log.merge_mor(
        spark, _tiny(spark, n=0), ["k"], delete_unmatched="k > 1000000"
    )
    assert res == {
        "version": 0, "n_updated": 0, "n_inserted": 0, "n_deleted": 0,
        "files_appended": 0, "files_rewritten": 0,
    }
    assert log.latest_version() == 0


def test_vacuum_data_grace_protects_young_orphans(base, spark):
    """data_grace_seconds (default 0 for the local fixtures) must,
    when set, protect young unreferenced data files — the in-flight
    landing's window — while aged-out orphans are still reclaimed."""
    import os

    log = TableLog(base)
    _bucketed(log, spark)
    orphan = Path(base) / "data" / "orphan-000.parquet"
    orphan.write_bytes(b"PAR1 not really parquet PAR1")

    res = log.vacuum(retain_versions=1, data_grace_seconds=3600)
    assert res["n_removed"] == 0 and res["n_data_in_grace"] == 1
    assert orphan.exists()

    os.utime(orphan, (os.stat(orphan).st_atime, os.stat(orphan).st_mtime - 10_000))
    res = log.vacuum(retain_versions=1, data_grace_seconds=3600)
    assert res["n_removed"] == 1 and not orphan.exists()


class _ConditionalPutStore:
    """In-memory emulation of exactly the object-store API DESIGN.md's
    round-15 mapping relies on: atomic put-if-absent (GCS
    ``x-goog-if-generation-match: 0`` / S3 ``If-None-Match: *``),
    strong single-key GET, and key listing. The lock models the
    server-side atomicity of one conditional PUT; an object is visible
    only with its complete payload (no torn window to close — the
    temp+link dance the local FS needs does not exist here)."""

    def __init__(self):
        import threading

        self._objects: dict[str, str] = {}
        self._lock = threading.Lock()
        self.n_puts = 0
        self.n_conflicts = 0

    def put_if_absent(self, key: str, payload: str) -> bool:
        with self._lock:
            self.n_puts += 1
            if key in self._objects:
                self.n_conflicts += 1
                return False
            self._objects[key] = payload
            return True

    def get(self, key: str) -> str:
        return self._objects[key]  # KeyError == object absent

    def keys(self) -> list[str]:
        return list(self._objects)


class ObjectStoreLog(TableLog):
    """TableLog over the conditional-PUT store: overrides ONLY the one
    publish primitive and the two manifest readers — the optimistic
    commit loop, rebase callbacks, OPTIMIZE, vacuum bookkeeping, and
    every verb above them run unchanged, which is the claim the
    DESIGN.md object-store section makes. Data files still land on
    local disk (immutable single-writer puts — not protocol-bearing)."""

    def __init__(self, base, store=None, **kw):
        super().__init__(base, **kw)
        self.store = store if store is not None else _ConditionalPutStore()

    def _publish_manifest(self, version: int, payload: str) -> None:
        if not self.store.put_if_absent(f"{version:020d}.json", payload):
            raise CommitConflict(f"version {version} already committed")

    def versions(self) -> list[int]:
        return sorted(
            int(k.split(".")[0])
            for k in self.store.keys()
            if k.endswith(".json")
        )

    def read_manifest(self, version=None) -> dict:
        import json

        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no commits in {self.store}")
        try:
            return json.loads(self.store.get(f"{version:020d}.json"))
        except KeyError:
            raise FileNotFoundError(f"no manifest for version {version}")


def test_object_store_log_basic_protocol(base, spark):
    """Append → OPTIMIZE → time travel over the conditional-PUT store:
    same results as the local-FS realization, and no .json manifest
    ever touches the filesystem (the CAS moved wholesale)."""
    log = ObjectStoreLog(base)
    for t in range(3):
        log.append(_tiny(spark, n=20, tag=t), n_files=2, tag=f"t{t}")
    v_opt = log.optimize(spark, target_rows_per_file=1_000)
    assert log.snapshot(spark).count() == 60
    assert log.snapshot(spark, version=0).count() == 20  # time travel
    assert log.versions() == [0, 1, 2, v_opt]
    assert not list(Path(base).glob("_log/*.json")), (
        "a manifest leaked onto the filesystem past the store"
    )


def test_object_store_concurrent_writer_soak(base, spark):
    """The round-9 concurrent-writer soak, re-run over the emulated
    conditional-PUT API: 4 threads x 5 appends racing on one store.
    Every commit must survive (no lost update), versions must be dense,
    and the store must have refused at least one conditional PUT (i.e.
    the race actually happened and was resolved by rebase-retry, not by
    luck of scheduling)."""
    import threading

    import random
    import time

    class SlowPublishLog(ObjectStoreLog):
        """Holds the read->publish window open ~2 ms so the racing
        threads actually overlap in it — pure in-memory commits under
        the GIL otherwise serialize by accident and the soak proves
        nothing."""

        def _publish_manifest(self, version, payload):
            time.sleep(random.uniform(0.0005, 0.002))
            super()._publish_manifest(version, payload)

    store = _ConditionalPutStore()
    N_WRITERS, N_APPENDS = 4, 5
    # Pre-land each thread's data files single-threaded: Spark jobs are
    # driver-thread-safe but slow; the PROTOCOL race we want is on the
    # commit loop, so land first, then race pure commit traffic.
    logs, landed = [], []
    for w in range(N_WRITERS):
        log = SlowPublishLog(base, store=store)
        files = [
            log._land(_tiny(spark, n=5, tag=w * 100 + a), 1, f"w{w}a{a}")
            for a in range(N_APPENDS)
        ]
        logs.append(log)
        landed.append(files)

    errors: list[Exception] = []

    def writer(w: int) -> None:
        try:
            for files in landed[w]:
                def rebase(prev, _files=files):
                    prior = prev["files"] if prev else []
                    return prior + _files, None
                # generous retry budget: the widened window makes
                # losing streaks likely, and a real object-store writer
                # retries with backoff far past 10 attempts
                logs[w].commit(op="append", build=rebase, max_retries=500)
        except Exception as exc:  # pragma: no cover - failure path
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(N_WRITERS)
    ]
    try:
        for t in threads:
            t.start()
    finally:
        for t in threads:
            t.join(timeout=120)
    assert not errors, errors
    assert not any(t.is_alive() for t in threads), "writer thread hung"

    total = N_WRITERS * N_APPENDS
    assert logs[0].versions() == list(range(total)), "versions not dense"
    final = logs[0].read_manifest()["files"]
    every_landed = [
        f for files in landed for flist in files for f in flist
    ]
    assert sorted(final) == sorted(every_landed), "lost update"
    assert store.n_conflicts > 0, (
        "no conditional PUT was ever refused — the soak never raced"
    )
    # the first commit inferred the schema, every later one inherited it
    assert all("schema" in logs[0].read_manifest(v) for v in range(total))
    assert logs[0].snapshot(spark).count() == 5 * total


def test_object_store_full_verb_lifecycle(base, spark):
    """COW update, MOR update (delete-vector sidecars riding the same
    conditional PUT), CDF replay, and vacuum all run transparently over
    the emulated object store — none of them touch storage except
    through _publish_manifest/read_manifest/versions, which is the
    whole point of the seam. Branch logs (`create_branch`) are the one
    surface the emulation does NOT cover: they construct base-class
    TableLog instances over their own _log namespace, which on a real
    object store is just another key prefix of the same kind."""
    log = ObjectStoreLog(base)
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("v")
    )
    log.append(df, n_files=4, tag="seed")

    cow = log.update_cow(spark, "v = 1", {"v": "v + 100"})
    assert cow["n_matched"] == 10
    got = {r.v for r in log.snapshot(spark).select("v").distinct().collect()}
    assert got == {0, 2, 3, 101}

    mor = log.update_mor(spark, "v = 2", {"v": "v + 200"}, key_cols=["k"])
    assert mor["n_matched"] == 10
    got = {
        r.v
        for r in log.snapshot_mor(spark).select("v").distinct().collect()
    }
    assert got == {0, 3, 101, 202}

    v_latest = log.latest_version()
    cdf = log.changes_between(spark, 0, v_latest)
    by_type = {
        (r._change_type): r.n
        for r in cdf.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    # COW rewrote 10 rows (10 deletes + 10 inserts); MOR masked 10 and
    # re-appended 10 updated rows
    assert by_type["insert"] >= 20 and by_type["delete"] >= 20

    census = log.vacuum(retain_versions=1, dv_grace_seconds=0.0)
    assert census["n_removed"] >= 1
    assert log.snapshot_mor(spark).count() == 40  # live content intact
    assert not list(Path(base).glob("_log/*.json")), (
        "a manifest leaked onto the filesystem past the store"
    )


def _inferred_mor(spark, log, v):
    """Reference merge-on-read of version ``v`` with the schema
    inferred from the footers: scoped (file, key) pairs, then global
    key lists, both anti-joined."""
    m = log.read_manifest(v)
    df = spark.read.parquet(*log.manifest_files(m)).withColumn(
        "_dv_file", F.expr(TableLog._NORM_FILE)
    )
    for d in m.get("delete_vectors_scoped", []):
        pairs = spark.read.parquet(d)
        df = df.join(pairs, pairs.columns, "left_anti")
    df = df.drop("_dv_file")
    for d in m.get("delete_vectors", []):
        keys = spark.read.parquet(d)
        df = df.join(keys, keys.columns, "left_anti")
    return df


def _assert_recorded_read_equals_inferred(spark, log, v):
    """``snapshot`` (and ``snapshot_mor`` when the version carries
    delete vectors) read with the recorded schema give the same schema
    and rows as an inference read of the version's files."""
    m = log.read_manifest(v)
    assert "schema" in m, f"v{v} ({m['op']}) recorded no schema"
    inferred = spark.read.parquet(*log.resolve_files(v))
    snap = log.snapshot(spark, v)
    assert snap.schema == inferred.schema, m["op"]
    assert sorted(snap.collect()) == sorted(inferred.collect()), m["op"]
    if m.get("delete_vectors") or m.get("delete_vectors_scoped"):
        mor = log.snapshot_mor(spark, v)
        assert mor.schema == inferred.schema, m["op"]
        want = sorted(_inferred_mor(spark, log, v).collect())
        assert sorted(mor.collect()) == want, m["op"]


def _kvs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )


def test_recorded_schema_full_list_verbs(base, spark):
    """Every full-list verb that lands data records a schema, and the
    version's reads with it equal the inference reads."""
    log = TableLog(base)
    versions = [
        log.append(_kvs(spark, 0, 20), n_files=2, tag="a"),
        log.append_range_bucketed(_kvs(spark, 20, 40), "k", 10, tag="r"),
        log.update_cow(spark, "v = 1", {"v": "v + 100"})["version"],
        log.update_mor(spark, "v = 2", {"v": "v + 200"}, key_cols=["k"])[
            "version"
        ],
        log.merge_mor(spark, _kvs(spark, 35, 45), ["k"])["version"],
    ]
    dv = str(Path(base) / "dv")
    spark.range(5).select(F.col("id").alias("k")).write.parquet(dv)
    versions.append(
        log.commit(
            log.read_manifest()["files"],
            op="delete-mor",
            extra={"delete_vectors": [dv]},
        )
    )
    versions.append(log.optimize(spark, target_rows_per_file=1_000))
    assert versions == list(range(len(versions)))
    for v in versions:
        _assert_recorded_read_equals_inferred(spark, log, v)
    feed = log.changes_between(spark, 0, versions[-1])
    assert feed.count() > 0


def test_recorded_schema_sharded_verbs(base, spark):
    """The sharded protocol records it too: sharded appends, sharded
    OPTIMIZE and a shard rewrite (which inherits)."""
    log = TableLog(base)
    vs = [
        log.append_manifest_sharded(_kvs(spark, 0, 15), n_files=2, tag="a"),
        log.append_manifest_sharded(_kvs(spark, 15, 30), n_files=2, tag="b"),
        log.compact_shards(),
        log.optimize(spark, target_rows_per_file=1_000),
    ]
    for v in vs:
        _assert_recorded_read_equals_inferred(spark, log, v)
    assert log.read_manifest(vs[2])["schema"] == log.read_manifest(vs[1])["schema"]


def test_restore_branch_clone_publish_carry_source_schema(base, spark, tmp_path):
    """restore, create_branch and clone_to record the SOURCE version's
    schema, and fast_forward the branch head's, not the schema of
    main's latest version they would otherwise inherit."""
    log = TableLog(base)
    narrow = log.append(_kvs(spark, 0, 10).drop("s"), n_files=1, tag="a")
    br = log.create_branch("b", version=narrow)
    clone = log.clone_to(tmp_path / "clone", version=narrow)
    wide = log.append(_kvs(spark, 10, 20), n_files=1, tag="b")
    assert log.read_manifest(wide)["schema"] != log.read_manifest(narrow)["schema"]
    restored = log.restore(narrow)
    want = log.read_manifest(narrow)["schema"]
    for t, v in ((log, restored), (br, br.latest_version()), (clone, 0)):
        assert t.read_manifest(v)["schema"] == want
        _assert_recorded_read_equals_inferred(spark, t, v)
    # publish: a branch forked at the restored (narrow) head lands wide
    # rows; main must take the branch head's schema on fast-forward
    pub = log.create_branch("p")
    pub.append(_kvs(spark, 20, 30), n_files=1, tag="w")
    v = log.fast_forward(pub, "p")
    assert log.read_manifest(v)["schema"] == pub.read_manifest()["schema"]
    assert log.snapshot(spark, v).columns == ["k", "v", "s"]


def test_static_commit_inherits_or_infers_schema(base, spark):
    """A static-list commit takes its parent's schema; the first one
    onto an empty log infers it once from its files."""
    src = TableLog(base + "/src")
    src.append(_kvs(spark, 0, 20), n_files=2, tag="a")
    files = src.resolve_files()
    log = TableLog(base + "/t")
    v0 = log.commit(files, op="append")
    inferred = spark.read.parquet(*files).schema
    assert log.read_manifest(v0)["schema"] == inferred.json()
    v1 = log.commit(files[:1], op="overwrite")
    assert log.read_manifest(v1)["schema"] == inferred.json()
    _assert_recorded_read_equals_inferred(spark, log, v1)


def test_snapshot_of_data_only_version_launches_no_job(base, spark):
    """Deterministic guard for the recorded schema: building the
    snapshot / snapshot_mor DataFrame of a version without delete
    vectors runs no Spark job (a footer-inference read runs one)."""
    log = TableLog(base)
    log.append(_kvs(spark, 0, 20), n_files=4, tag="a")
    log.update_cow(spark, "v = 1", {"v": "v + 100"})
    sc = spark.sparkContext
    group = "tablelog-schema-guard"
    before = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        n0 = len(sc.statusTracker().getJobIdsForGroup(group))
        for v in log.versions():
            log.snapshot(spark, v)
            log.snapshot_mor(spark, v)
        n1 = len(sc.statusTracker().getJobIdsForGroup(group))
        spark.read.parquet(*log.resolve_files())  # control: inference runs a job
        n2 = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", before)
    assert n1 - n0 == 0
    assert n2 - n1 >= 1


def test_land_stage_links_fixture_slices(base, spark):
    """Deterministic fixture slices are staged once per session and
    re-landed by hardlink: identical slices share inodes across tables,
    different slices never alias, linked content equals a fresh write,
    and unlinking one table's copy (vacuum) leaves the other intact."""
    import os

    src_dir = base + "/fixture"
    spark.range(60).selectExpr(
        "id AS k", "id % 3 AS m", "id * 7 AS v"
    ).write.mode("overwrite").parquet(src_dir)
    fx = spark.read.parquet(src_dir)

    a = TableLog(base + "/a")
    b = TableLog(base + "/b")
    a.append(fx.filter(F.col("m") == 0), n_files=2, tag="s0")
    b.append(fx.filter(F.col("m") == 0), n_files=2, tag="s0")  # same slice
    b.append(fx.filter(F.col("m") == 1), n_files=2, tag="s1")  # different

    fa = sorted(Path(base + "/a").glob("data/*.parquet"))
    fb = sorted(Path(base + "/b").glob("data/*.parquet"))
    ia = {os.stat(p).st_ino for p in fa}
    ib0 = {os.stat(p).st_ino for p in fb if "s0" in p.name}
    ib1 = {os.stat(p).st_ino for p in fb if "s1" in p.name}
    assert ia == ib0, "identical slices should share staged inodes"
    assert not (ib0 & ib1), "different slices must never alias"

    # linked content == direct content (slice definition replayed)
    got = sorted(r.k for r in b.snapshot(spark).filter("m = 0").collect())
    want = sorted(r.k for r in fx.filter("m = 0").collect())
    assert got == want

    # vacuum/unlink of one table leaves the other table's copy intact
    for p in fa:
        os.unlink(p)
    still = sorted(r.k for r in b.snapshot(spark).filter("m = 0").collect())
    assert still == want


@pytest.mark.parametrize("path", ["tablelog", "stream"])
def test_land_stage_vanished_dir_is_a_cache_miss(base, spark, monkeypatch, path):
    """A staged dir that a tmp cleaner empties must fall back to a fresh
    Spark write, both when it is emptied before the next landing checks
    it and when it is emptied between that check and the relink.
    Relinking from the emptied dir would land nothing: an empty
    committed TableLog version, or a stream source that drains 0
    rows."""
    import os

    from chess_ratings_spark import staging
    from chess_ratings_spark.streaming import stream_ops

    src_dir = base + "/fixture"
    spark.range(40).selectExpr("id AS k", "id % 2 AS m").write.mode(
        "overwrite"
    ).parquet(src_dir)
    sl = spark.read.parquet(src_dir).filter(F.col("m") == 0)
    want = sorted(r.k for r in sl.collect())

    if path == "tablelog":

        def staged():
            return staging.stage_dir(sl, 2)

        def land_and_read(dest):
            log = TableLog(dest)
            log.append(sl, n_files=2, tag="s0")
            assert log.read_manifest(0)["files"], "an empty landing was committed"
            return sorted(r.k for r in log.snapshot(spark).collect())

    else:

        def staged():
            return stream_ops._slice_stage(sl)

        def land_and_read(dest):
            stream_ops._land_slice(sl, dest)
            src = spark.readStream.schema("k bigint, m bigint").parquet(dest)
            return sorted(r.k for r in stream_ops._drain(spark, sl, src, "append").collect())

    def sweep(d):
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.unlink(os.path.join(d, f))

    assert land_and_read(base + "/a") == want  # stages the slice
    first = staged()
    sweep(first)
    assert land_and_read(base + "/b") == want
    second = staged()
    assert second != first, "stale key kept"

    real_live = staging._live

    def live_then_sweep(value):
        ok = real_live(value)
        if ok and staging._staged_path(value) == second:
            sweep(second)
        return ok

    monkeypatch.setattr(staging, "_live", live_then_sweep)
    assert land_and_read(base + "/c") == want
    monkeypatch.undo()
    assert staged() != second, "stale key kept"


def _keys(spark, lo, hi, step=1):
    return spark.range(lo, hi, step).select(F.col("id").alias("k"))


def test_snapshot_of_dv_versions_launches_no_job(base, spark):
    """Sibling of the data-only guard for versions that carry delete
    vectors: _write_dv records the key schema beside the keys, so
    building snapshot_mor of a version with a global DV and of one with
    scoped DVs runs no Spark job. Control: the same global DV dir
    without ``_schema.json`` (as a writer before the schema was
    recorded leaves it) masks the same rows and runs an inference
    job."""
    log = TableLog(base)
    _bucketed(log, spark)
    dv = _write_dv(_keys(spark, 0, 100, 7), base + "/dv")
    v_global = log.commit(
        log.read_manifest()["files"], op="delete-mor",
        extra={"delete_vectors": [dv]},
    )
    log.update_mor(spark, "k BETWEEN 30 AND 40", {"tag": "tag + 1"}, ["k"])
    v_scoped = log.latest_version()
    scoped = log.read_manifest(v_scoped)["delete_vectors_scoped"]
    assert scoped
    for d in (dv, *scoped):
        assert (Path(d) / "_schema.json").is_file()
    with job_count(spark) as jobs:
        for v in (v_global, v_scoped):
            log.snapshot_mor(spark, v)
        assert jobs() == 0
    for v in (v_global, v_scoped):
        want = sorted(_inferred_mor(spark, log, v).collect())
        assert sorted(log.snapshot_mor(spark, v).collect()) == want

    want = sorted(log.snapshot_mor(spark, v_global).collect())
    (Path(dv) / "_schema.json").unlink()
    with job_count(spark) as jobs:
        legacy = log.snapshot_mor(spark, v_global)
        assert jobs() >= 1
    assert sorted(legacy.collect()) == want


def test_write_dv_refuses_an_existing_dv(base, spark):
    """A DV dir is immutable once written: a second write to the same
    dest raises instead of adding keys to a published mask."""
    dv = _write_dv(_keys(spark, 0, 5), base + "/dv")
    with pytest.raises(FileExistsError):
        _write_dv(_keys(spark, 5, 10), dv)
    assert sorted(r.k for r in spark.read.parquet(dv).collect()) == list(range(5))


@pytest.mark.parametrize("mode", ["static", "rebase"])
def test_commit_refuses_vanished_global_dv(base, spark, mode):
    """commit() checks every DV a version adds, not only the scoped
    ones of the MOR verbs: a global DV dir removed between _write_dv
    and commit aborts the commit, in static-list and in rebase mode,
    and no manifest is published."""
    log = TableLog(base)
    _bucketed(log, spark)
    files = log.read_manifest()["files"]
    dv = _write_dv(_keys(spark, 0, 10), base + "/dv")
    shutil.rmtree(dv)
    with pytest.raises(RuntimeError, match="vanished before publish"):
        if mode == "static":
            log.commit(files, op="delete-mor", extra={"delete_vectors": [dv]})
        else:
            log.commit(
                op="delete-mor",
                build=lambda prev: (prev["files"], {"delete_vectors": [dv]}),
            )
    assert log.versions() == [0]
    assert not list(log.log_dir.glob(".commit_*"))
    assert log.snapshot_mor(spark).count() == 100


def _with_dvs(log, spark, base):
    """A global DV (every 7th key) plus a scoped one (keys 30-40)."""
    dv = _write_dv(_keys(spark, 0, 100, 7), base + "/dv")
    log.commit(
        log.read_manifest()["files"], op="delete-mor",
        extra={"delete_vectors": [dv]},
    )
    log.update_mor(spark, "k BETWEEN 30 AND 40", {"tag": "tag + 1"}, ["k"])


@pytest.mark.parametrize("dvs", [False, True], ids=["plain", "dvs"])
def test_update_cow_census_is_observed(base, spark, dvs):
    """update_cow's n_matched equals the count of matching live rows,
    with and without delete vectors, and is an observed metric of the
    rewrite: the UPDATE runs exactly the jobs of landing the same
    rewrite without the census, none for a count (which costs >= 1)."""
    pred = "k BETWEEN 20 AND 60"
    twins = [TableLog(f"{base}/t{i}") for i in (0, 1)]
    for i, log in enumerate(twins):
        _bucketed(log, spark)
        if dvs:
            _with_dvs(log, spark, f"{base}/dv{i}")
    want = twins[0].snapshot_mor(spark).filter(pred).count()
    with job_count(spark) as jobs:
        assert twins[1].snapshot_mor(spark).filter(pred).count() == want
        n_count = jobs()

    m = twins[1].read_manifest()
    bare = _apply_delete_vectors(
        spark,
        twins[1]._with_scoped_dvs_applied(spark, m["files"], m),
        m.get("delete_vectors", []),
    ).withColumn(
        "tag", F.when(F.expr(pred), F.expr("tag + 5")).otherwise(F.col("tag"))
    )
    with job_count(spark) as jobs:
        twins[1]._land(bare, len(m["files"]), tag="bare")
        n_bare = jobs()

    with job_count(spark) as jobs:
        res = twins[0].update_cow(spark, pred, {"tag": "tag + 5"})
        n_observed = jobs()
    assert res["n_matched"] == want
    assert n_count >= 1
    assert n_observed == n_bare


def test_update_cow_stage_hit_counts_and_does_not_hang(base, spark, tmp_path):
    """A landing served from the stage runs no action, so the observed
    census never fires; the stage returns the census its write recorded,
    and update_cow never waits on the one that did not fire. Twin tables
    landed from one parquet source share their files' inodes, so the
    second of two identical UPDATEs hits the first one's staged rewrite:
    it runs no Spark job at all and reports the live count."""
    pred = "k BETWEEN 20 AND 60"
    src = str(tmp_path / "src")
    _tiny(spark, n=100).write.parquet(src)
    twins = [TableLog(f"{base}/t{i}") for i in (0, 1)]
    for log in twins:
        log.append(spark.read.parquet(src), n_files=4, tag="base")
    want = twins[0].snapshot(spark).filter(pred).count()
    got: list = []

    def update(log):
        before = staging.COUNTS.copy()
        with job_count(spark) as jobs:
            n = log.update_cow(spark, pred, {"tag": "tag + 5"})["n_matched"]
            got.append(
                (n, jobs())
                + tuple(staging.COUNTS[k] - before[k] for k in ("dir.hit", "dir.miss"))
            )

    for log in twins:
        t = threading.Thread(target=update, args=(log,), daemon=True)
        t.start()
        t.join(timeout=180)
        assert not t.is_alive(), "update_cow blocked on a census that never fired"
    (n0, jobs0, hit0, miss0), second = got
    assert (n0, hit0, miss0) == (want, 0, 1) and jobs0 >= 1
    assert second == (want, 0, 1, 0)
    rows = [sorted(log.snapshot(spark).collect()) for log in twins]
    assert rows[0] == rows[1]


#: Warm-pass Spark jobs (query build + a noop write of its result) of
#: the perfbench ``lake`` mix at sf0.001: a deterministic count that
#: host noise cannot move, so a rise is a regression to explain, not
#: noise. Recorded DV schemas, staged DV key lists and single-partition
#: literal tables took it from 32 to 27; identity-keyed staging and one
#: action per census took it to 19. (At sf0.001 every user_id is below
#: lake_update_cow's prune range, so its UPDATE touches no file; the
#: sf0.01 census below runs the rewrite.)
_WARM_LAKE_JOBS = {
    "lake_update_cow": 5,
    "lake_delete_mor": 9,
    "lake_time_travel": 5,
}


def _warm_census(spark, sf_dir, names) -> tuple[dict, int]:
    """Second-pass Spark jobs per query, and the fresh stage writes
    (``dir.miss`` + ``dir.unkeyed``) of that pass."""
    import chess_ratings_spark.plans  # noqa: F401  (populates the registry)
    from chess_ratings_spark.registry import REGISTRY

    census = {}
    for _ in range(2):  # the first pass warms the session's stage
        before = staging.COUNTS.copy()
        for name in names:
            with job_count(spark) as jobs:
                df = REGISTRY[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                census[name] = jobs()
    fresh = sum(staging.COUNTS[k] - before[k] for k in ("dir.miss", "dir.unkeyed"))
    return census, fresh


def test_warm_lake_mix_job_census(spark):
    from .conftest import SF_SMOKE

    assert _warm_census(spark, SF_SMOKE, _WARM_LAKE_JOBS) == (_WARM_LAKE_JOBS, 0)


def test_warm_lake_update_cow_census_at_sf0_01(spark):
    """At sf0.01 lake_update_cow's UPDATE rewrites files: a warm pass
    lands that rewrite from the stage (a hardlinked table's files key by
    inode) and runs 6 jobs, with no fresh stage write."""
    from .conftest import SF_CORRECT

    census = _warm_census(spark, SF_CORRECT, ["lake_update_cow"])
    assert census == ({"lake_update_cow": 6}, 0)


def test_lake_update_cow_rewrites_at_sf0_01(spark, ducks):
    """sf0.001's user_ids (0-14) all fall below lake_update_cow's prune
    range 40-59, so there its UPDATE takes the early exit; sf0.01
    (user_ids 0-149) runs the rewrite itself against the oracle."""
    import chess_ratings_spark.plans  # noqa: F401  (populates the registry)
    from chess_ratings_spark.registry import REGISTRY

    from .conftest import SF_CORRECT, compare_frames

    q = REGISTRY["lake_update_cow"]
    df = q.fn(spark, SF_CORRECT)
    compare_frames(df, ducks(SF_CORRECT), q.oracle, qname=q.name)
    (row,) = df.collect()
    assert row["n_updated"] > 0
    assert row["files_rewritten"] > 0
