"""Batch/stream parity (SURVEY.md §5.2): every true streaming run must
equal its batch twin on the replayed static events table, and the
stateful/late/dedup semantics must hold exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from chess_ratings_spark import tables
from chess_ratings_spark.streaming import batch_twins, stream_ops

from .conftest import SF_SMOKE


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def test_tumbling_stream_equals_batch_twin(spark):
    """Append-mode streaming emits a window only once the watermark
    passes its end; at end-of-stream the window(s) covering
    (max_ts - delay, max_ts] never close. Parity is therefore
    live == batch minus still-open windows — and the open set must be
    small (here: exactly the windows in the last delay interval)."""
    ev = tables.load(spark, SF_SMOKE, "events")
    live = _as_set(stream_ops.tumbling_stream(spark, ev))
    batch = _as_set(batch_twins.tumbling(ev))
    assert live <= batch
    open_windows = batch - live
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    watermark = max_ts - dt.timedelta(minutes=10)
    for window_start, _etype, _n, _v in open_windows:
        end = dt.datetime.fromisoformat(window_start) + dt.timedelta(hours=1)
        assert end > watermark, f"closed window {window_start} missing from stream output"


def test_dedup_stream_removes_exact_duplicates(spark):
    ev = tables.load(spark, SF_SMOKE, "events")
    out = {r.event_type: r.n_unique for r in stream_ops.dedup_stream(spark, ev).collect()}
    expected = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.countDistinct("event_id").alias("n")).collect()
    }
    assert out == expected


def test_late_data_dropped(spark):
    ev = tables.load(spark, SF_SMOKE, "events")
    n_total = ev.count()
    out = stream_ops.late_data_stream(spark, ev)
    emitted = sum(r.n for r in out.collect())
    # batch 2 (the oldest half) must have been dropped below watermark:
    # emitted counts cover at most the on-time half (window-boundary
    # rows can push slightly past n/2, never near n).
    assert 0 < emitted < n_total * 0.75


def test_stateful_stream_totals(spark):
    ev = tables.load(spark, SF_SMOKE, "events")
    out = {r.user_id: (r.total_value, r.n_events, r.n_over) for r in
           stream_ops.stateful_stream(spark, ev).collect()}
    expected = {
        r.user_id: (r.total, r.n, r.n_over)
        for r in ev.groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") > 150.0, 1).otherwise(0)).alias("n_over"),
        )
        .collect()
    }
    assert out == expected


def test_rocksdb_provider_engaged(spark):
    """The RocksDB twin must (a) equal the batch GROUP BY exactly and
    (b) actually have run under RocksDB: changelog checkpointing
    leaves .changelog/.zip state artifacts, while a silent fallback to
    the HDFS provider would leave .delta files and flip the proof."""
    ev = tables.load(spark, SF_SMOKE, "events")
    out = {r.user_id: (r.total_value, r.n_events, r.n_over) for r in
           stream_ops.stateful_stream_rocksdb(spark, ev).collect()}
    expected = {
        r.user_id: (r.total, r.n, r.n_over)
        for r in ev.groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") > 150.0, 1).otherwise(0)).alias("n_over"),
        )
        .collect()
    }
    assert out == expected
    assert stream_ops.last_rocksdb_proof is True
    # the conf swap must have been restored
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    ).endswith("HDFSBackedStateStoreProvider")


def test_tws_gated_or_works(spark):
    """transformWithStateInPandas is import-gated on google.protobuf;
    where available it must match the static aggregation, where not the
    gate must say so."""
    import pytest

    if not stream_ops.tws_available():
        pytest.skip("google.protobuf absent - tws_stream correctly gated")
    ev = tables.load(spark, SF_SMOKE, "events")
    out = {r.user_id: (r.total_value, r.n_events) for r in
           stream_ops.tws_stream(spark, ev).collect()}
    expected = {r.user_id: (r.total, r.n) for r in
                ev.groupBy("user_id").agg(
                    F.round(F.sum("value"), 2).alias("total"),
                    F.count(F.lit(1)).alias("n")).collect()}
    assert out == expected


def test_sliding_stream_subset_of_batch_twin(spark):
    ev = tables.load(spark, SF_SMOKE, "events")
    live = _as_set(stream_ops.sliding_stream(spark, ev))
    batch = _as_set(batch_twins.sliding(ev))
    assert live <= batch
    assert len(live) > 0.8 * len(batch)  # only trailing windows open


def test_cdf_stream_resumes_from_checkpoint(spark, tmp_path):
    """The CDF streaming source's restart contract (standard
    Structured Streaming semantics: offsets live in the CHECKPOINT):
    a second availableNow run over the same checkpoint must resume
    after the versions the first run processed — re-emitting nothing
    old, emitting exactly the versions committed in between."""
    import uuid

    from pyspark.sql import functions as F

    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.sources.tablelog_stream import TableLogCdfSource

    try:
        spark.dataSource.register(TableLogCdfSource)
    except Exception:
        pass
    base = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    log = TableLog(base)
    t = spark.range(20).select(F.col("id").alias("k"))
    log.append(t, n_files=2, tag="a")  # v0

    out_dir = str(tmp_path / "out")

    def drain(tag):
        src = (
            spark.readStream.format("crs_tablelog_cdf")
            .option("path", base)
            .option("schema", "k bigint")
            .option("key_col", "k")
            .load()
        )
        q = (
            src.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r[0], r[1]): r[2]
            for r in spark.read.parquet(out_dir)
            .groupBy("_commit_version", "_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    assert drain(uuid.uuid4()) == {(0, "insert"): 20}
    log.append(t.select((F.col("k") + 100).alias("k")), n_files=1, tag="b")
    # restart from the same checkpoint: the sink gains ONLY v1's rows
    assert drain(uuid.uuid4()) == {(0, "insert"): 20, (1, "insert"): 20}


def test_replicate_tablelog_replica_equals_source(spark):
    """The replication capstone's own verdict columns: after two
    availableNow rounds over one checkpoint — with a MOR delete and
    an OPTIMIZE happening in A between them — replica B's live state
    equals A's (count + fixed-point checksum), and the deletes arrived
    as B's own delete-vector commit, not as filtered-out rows."""
    from chess_ratings_spark.plans.streaming import stream_replicate_tablelog

    row = stream_replicate_tablelog(spark, SF_SMOKE).collect()[0]
    assert row["replica_matches_source"] is True
    assert row["n_source_live"] == row["n_replica"]
    assert row["vc_source"] == row["vc_replica"]
    assert row["stream_rounds"] == 2
    assert row["replicated_deletes"] > 0


def test_ivm_view_matches_direct_aggregate(spark):
    """IVM invariant: after two CDF rounds (the second mixing delete
    and insert deltas), the signed-delta-maintained view equals the
    direct groupBy over the source's live MOR state, per group — and
    the deletes really subtracted (the error group kept only its
    undeleted third)."""
    from pyspark.sql import functions as F

    from chess_ratings_spark.plans.streaming import stream_ivm_groupby

    rows = {r["event_type"]: r for r in stream_ivm_groupby(spark, SF_SMOKE).collect()}
    assert all(r["matches_direct"] for r in rows.values())
    ev = tables.load(spark, SF_SMOKE, "events")
    full_error = ev.filter(F.col("event_type") == "error").count()
    assert 0 < rows["error"]["n"] < full_error


def test_cdf_stream_consumes_sharded_tables(spark, tmp_path):
    """The CDF source resolves sharded manifests too: a sharded-append
    log streams its rows, a rewrite_manifests compaction contributes
    ZERO feed rows (data_change=false, file set unchanged), and a
    post-compaction sharded append resumes incrementally."""
    import uuid

    from pyspark.sql import functions as F

    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.sources.tablelog_stream import TableLogCdfSource

    try:
        spark.dataSource.register(TableLogCdfSource)
    except Exception:
        pass
    base = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    log = TableLog(base)
    t = spark.range(30).select(F.col("id").alias("k"))
    log.append_manifest_sharded(t.filter(F.col("k") < 10), n_files=2, tag="a")
    log.append_manifest_sharded(
        t.filter((F.col("k") >= 10) & (F.col("k") < 20)), n_files=2, tag="b"
    )

    def drain():
        src = (
            spark.readStream.format("crs_tablelog_cdf")
            .option("path", base)
            .option("schema", "k bigint")
            .option("key_col", "k")
            .load()
        )
        q = (
            src.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r[0], r[1]): r[2]
            for r in spark.read.parquet(out_dir)
            .groupBy("_commit_version", "_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    assert drain() == {(0, "insert"): 10, (1, "insert"): 10}
    log.compact_shards()  # v2: metadata only, must feed nothing
    log.append_manifest_sharded(t.filter(F.col("k") >= 20), n_files=1, tag="c")
    assert drain() == {
        (0, "insert"): 10,
        (1, "insert"): 10,
        (3, "insert"): 10,
    }


def test_event_time_dst_gap_zone_proof(spark):
    """Round-10 ADVICE repro: wall times inside a DST spring-forward gap
    (America/New_York 2024-03-10 02:00-03:00) must produce identical
    epoch micros, window grouping, and rendered strings in a DST
    session zone and in UTC. The old timestampdiff-based derivation
    shifted gap walls +1 h (aliasing them with the following hour);
    the field-extraction `_EVENT_US` / `_wall_fmt` path never consults
    a zone."""
    import datetime as dt

    walls = [
        dt.datetime(2024, 3, 10, 1, 45, 0),          # before the gap
        dt.datetime(2024, 3, 10, 2, 30, 0, 123456),  # INSIDE the gap
        dt.datetime(2024, 3, 10, 2, 59, 59, 999999), # gap edge
        dt.datetime(2024, 3, 10, 3, 15, 0),          # after the gap
        dt.datetime(2024, 11, 3, 1, 30, 0, 500000),  # fall-back overlap
        dt.datetime(2024, 3, 10, 9, 0, 0),           # plain hour
    ]
    rows = [
        (i, w, 1, "t", 1.0, "{}") for i, w in enumerate(walls)
    ]
    ev = spark.createDataFrame(rows, schema=stream_ops.EVENT_SCHEMA)

    def run():
        us = [
            r.us
            for r in ev.select(
                F.expr(stream_ops._EVENT_US.format(ts="ts")).alias("us")
            ).orderBy("us").collect()
        ]
        walls_back = [
            r.s
            for r in ev.select(
                stream_ops._wall_fmt(
                    F.timestamp_micros(
                        F.expr(stream_ops._EVENT_US.format(ts="ts"))
                    ),
                    micros=True,
                ).alias("s")
            ).orderBy("s").collect()
        ]
        win = {
            tuple(r)
            for r in stream_ops.tumbling_stream(spark, ev, width="1 hour").collect()
        }
        return us, walls_back, win

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = run()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

    truth_us = sorted(
        int((w - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
        for w in walls
    )
    assert utc[0] == truth_us
    assert ny[0] == truth_us, "epoch micros shifted inside the DST gap"
    truth_render = sorted(
        w.strftime("%Y-%m-%d %H:%M:%S.%f") for w in walls
    )
    assert utc[1] == truth_render
    assert ny[1] == truth_render, "rendered wall shifted inside the DST gap"
    assert utc[2] == ny[2], "window grouping differs between UTC and NY"


def test_cdf_stream_replays_scoped_dv_updates(spark, tmp_path):
    """MOR UPDATE/MERGE commits mask old versions with FILE-SCOPED
    (file, key) pairs; the CDF streaming source must emit those masked
    rows as deletes (the appended files already feed as inserts) —
    without this a streaming replica of a table under MOR updates
    keeps the stale versions and diverges. Net replay must equal
    snapshot_mor exactly."""
    from pyspark.sql import functions as F

    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.sources.tablelog_stream import TableLogCdfSource

    try:
        spark.dataSource.register(TableLogCdfSource)
    except Exception:
        pass
    base = str(tmp_path / "log")
    log = TableLog(base)
    t = spark.range(30).select(
        F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
    )
    log.append(t, n_files=2, tag="a")  # v0
    log.update_mor(spark, "k BETWEEN 3 AND 7", {"v": "v + 5"}, ["k"])  # v1
    log.merge_mor(  # v2: update k=4 again (stacked) + insert 28..33
        spark,
        spark.range(28, 34).select(
            F.col("id").alias("k"), F.lit(9).cast("bigint").alias("v")
        ),
        ["k"],
    )

    src = (
        spark.readStream.format("crs_tablelog_cdf")
        .option("path", base)
        .option("schema", "k bigint, v bigint")
        .option("key_col", "k")
        .load()
    )
    out_dir = str(tmp_path / "out")
    q = (
        src.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(out_dir)
    # v1: 5 masked deletes + 5 re-appended inserts; v2: 3 masked
    # (k 28, 29 from v0 + the k=4 v1-appended version) ... merge masks
    # matched = k 28..29 (v0) and k 28..33 across files: matched live
    # rows are k 28, 29 only from v0 set plus none new; stacked k=4?
    # merge source covers 28..33; k 4 not in it. So v2 deletes = 2.
    counts = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in feed.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts[(1, "delete")] == 5
    assert counts[(1, "insert")] == 5
    assert counts[(2, "delete")] == 2
    assert counts[(2, "insert")] == 6
    # net replay == MOR snapshot: apply inserts minus deletes per key
    net = (
        feed.withColumn(
            "w", F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        )
        .groupBy("k", "v")
        .agg(F.sum("w").alias("n"))
        .filter("n > 0")
    )
    got = sorted((r.k, r.v) for r in net.collect())
    want = sorted((r.k, r.v) for r in log.snapshot_mor(spark).collect())
    assert got == want


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

#: random TableLog op sequences for the stream-vs-batch CDF property:
#: appends, key-global MOR deletes, scoped-DV updates, MOR merges, and
#: OPTIMIZEs (which must contribute NOTHING to either feed)
_cdf_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 5)),
        st.tuples(st.just("delete"), st.integers(0, 4)),
        st.tuples(st.just("umor"), st.integers(0, 6)),
        st.tuples(st.just("merge"), st.integers(0, 6)),
        st.tuples(st.just("opt"), st.just(0)),
    ),
    min_size=2,
    max_size=5,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_cdf_ops)
def test_cdf_stream_equals_changes_between_on_random_histories(
    spark, tmp_path_factory, ops
):
    """The streaming CDF source and TableLog.changes_between are
    PARALLEL implementations of the same feed (driver-side manifest
    diff vs Spark-side file reads) — exactly where silent divergence
    hides. Property: for ARBITRARY op histories (appends, global-DV
    deletes, scoped-DV updates, MOR merges, OPTIMIZEs), one availableNow
    drain emits the identical (key, change_type, commit_version)
    multiset as the batch twin over the full version range."""
    from pyspark.sql import functions as F

    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.sources.tablelog_stream import TableLogCdfSource

    try:
        spark.dataSource.register(TableLogCdfSource)
    except Exception:
        pass
    tmp = tmp_path_factory.mktemp("cdfprop")
    log = TableLog(tmp / "t")
    log.append(
        spark.range(20).select(F.col("id").alias("k")), n_files=2, tag="seed"
    )
    model_live = set(range(20))
    n_dv = 0
    for i, (kind, arg) in enumerate(ops):
        if kind == "append":
            lo = 1000 + arg * 20 + i * 200
            log.append(
                spark.range(lo, lo + 10).select(F.col("id").alias("k")),
                n_files=1,
                tag=f"a{i}",
            )
            model_live |= set(range(lo, lo + 10))
        elif kind == "delete":
            doomed = sorted(k for k in model_live if k % 5 == arg)
            if not doomed:
                continue
            n_dv += 1
            p = str(tmp / f"dv{n_dv}")
            spark.createDataFrame(
                [(k,) for k in doomed], "k bigint"
            ).coalesce(1).write.parquet(p)
            m = log.read_manifest()
            extra = {"delete_vectors": m.get("delete_vectors", []) + [p]}
            if "delete_vectors_scoped" in m:
                extra["delete_vectors_scoped"] = m["delete_vectors_scoped"]
            log.commit(m["files"], op="delete-mor", extra=extra)
            model_live -= set(doomed)
        elif kind == "umor":
            res = log.update_mor(spark, f"k % 7 = {arg}", {"k": "k"}, ["k"])
            _ = res
        elif kind == "merge":
            if log.read_manifest().get("delete_vectors"):
                continue  # globally-masked keys are refused by contract
            upd = sorted(k for k in model_live if k % 7 == arg)
            lo = 100_000 + arg * 10 + i * 100
            ins = list(range(lo, lo + 3))
            log.merge_mor(
                spark,
                spark.createDataFrame([(k,) for k in upd + ins], "k bigint"),
                ["k"],
            )
            model_live |= set(ins)
        else:
            log.optimize(spark, target_rows_per_file=1_000_000)

    latest = log.latest_version()
    if latest == 0:
        return

    def census(df):
        return {
            (r["k"], r["_change_type"], r["_commit_version"]): r["n"]
            for r in df.groupBy("k", "_change_type", "_commit_version")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    try:
        batch = census(
            log.changes_between(spark, 0, latest).withColumn(
                "_commit_version", F.col("_commit_version").cast("int")
            )
        )
    except ValueError:
        # an all-OPTIMIZE history: the batch twin refuses the empty
        # range by contract; the stream twin must then emit nothing
        batch = {}
    out_dir = str(tmp / "out")
    src = (
        spark.readStream.format("crs_tablelog_cdf")
        .option("path", str(tmp / "t"))
        .option("schema", "k bigint")
        .option("key_col", "k")
        .load()
    ).filter(F.col("_commit_version") > 0)  # changes_between starts AT v0
    q = (
        src.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        stream = census(spark.read.parquet(out_dir))
    except Exception:
        stream = {}  # nothing emitted -> no parquet output at all
    assert stream == batch


def test_state_reader_mid_and_final_snapshots(spark):
    """The statestore data source must expose the checkpoint's state
    between availableNow rounds: the mid snapshot equals the even-
    user_id slice's aggregate, the final snapshot the full aggregate —
    both recomputed here directly from the input frame."""
    ev = tables.load(spark, SF_SMOKE, "events")
    got = {
        r.event_type: (r.n_mid, r.vc_mid, r.n_final, r.vc_final)
        for r in stream_ops.state_reader_snapshot(spark, ev).collect()
    }
    vc = F.floor(F.col("value") * 100).cast("bigint")
    mid = {
        r.event_type: (r.n, r.s)
        for r in ev.filter("user_id % 2 = 0")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(vc).alias("s"))
        .collect()
    }
    fin = {
        r.event_type: (r.n, r.s)
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(vc).alias("s"))
        .collect()
    }
    assert set(got) == set(fin)
    for et, (nm, vm, nf, vf) in got.items():
        assert (nm, vm) == mid.get(et, (0, 0)), f"mid state drifted for {et}"
        assert (nf, vf) == fin[et], f"final state drifted for {et}"


def test_state_reader_join_sides_expose_buffered_state(spark, tmp_path):
    """The statestore data source's joinSide option must expose each
    side's buffered rows of a stream-stream interval join, and the
    buffer contents must equal the watermark's exact eviction rule —
    left rows kept while a.ts + 5s can still match (a.ts >= wm - 5s),
    right rows while b.ts >= wm, with wm = max(ts) - 10s after the
    single availableNow round."""
    import pathlib

    for side in ("l", "r"):
        d = tmp_path / side
        d.mkdir()
        spark.range(50).select(
            (F.col("id") % 5).alias("k"),
            F.col("id").alias("v"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id"))
            ).alias("ts"),
        ).write.parquet(str(d / "p"))

    def src(side):
        return (
            spark.readStream.schema("k bigint, v bigint, ts timestamp")
            .parquet(str(tmp_path / side) + "/*")
            .withWatermark("ts", "10 seconds")
        )

    j = src("l").alias("a").join(
        src("r").alias("b"),
        F.expr("a.k = b.k AND b.ts BETWEEN a.ts AND a.ts + interval 5 seconds"),
    )
    ck = str(tmp_path / "ck")
    q = (
        j.writeStream.format("memory")
        .queryName("crs_jsr")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.catalog.dropTempView("crs_jsr")

    # wm = 49s - 10s = 39s. Right buffer: b.ts >= 39 -> ids 39..49.
    # Left buffer: a.ts >= wm - 5 = 34 -> ids 34..49.
    left = spark.read.format("statestore").option("joinSide", "left").load(ck)
    right = spark.read.format("statestore").option("joinSide", "right").load(ck)
    lv = sorted(r["value"]["v"] for r in left.collect())
    rv = sorted(r["value"]["v"] for r in right.collect())
    assert lv == list(range(34, 50)), lv
    assert rv == list(range(39, 50)), rv


def test_state_reader_join_query_matches_eviction_rule(spark):
    """Driver query twin of the synthetic joinSide test: buffered state
    and emitted pairs over the real events fixture must equal the
    eviction rule recomputed in batch SQL."""
    from chess_ratings_spark import tables
    from chess_ratings_spark.streaming import stream_ops

    ev = tables.load(spark, SF_SMOKE, "events")
    got = {
        r["side"]: (r["n_buffered"], r["vc_buffered"], r["n_pairs"], r["pair_vc"])
        for r in stream_ops.state_reader_join_sides(spark, ev).collect()
    }
    e = ev.select(
        "user_id",
        "event_type",
        F.date_trunc("second", "ts").alias("ts"),
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    v = e.filter("event_type = 'view'").select("user_id", "ts", "vc")
    p = e.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("vc").alias("p_vc"),
    )
    wm = (
        v.agg(F.max("ts").alias("mv"))
        .crossJoin(p.agg(F.max("p_ts").alias("mp")))
        .select(F.least("mv", "mp").alias("m"))
        .collect()[0]["m"]
    )
    import datetime as _dt

    w = wm - _dt.timedelta(minutes=10)
    pairs = (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("ts"))
            & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.col("vc") + F.col("p_vc")), F.lit(0)).alias("s"),
        )
        .collect()[0]
    )
    lbuf = (
        v.filter(F.col("ts") >= F.lit(w - _dt.timedelta(hours=1)))
        .agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("vc"), F.lit(0)).alias("s"))
        .collect()[0]
    )
    rbuf = (
        p.filter(F.col("p_ts") >= F.lit(w))
        .agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("p_vc"), F.lit(0)).alias("s"))
        .collect()[0]
    )
    assert got["left"] == (lbuf["n"], lbuf["s"], pairs["n"], pairs["s"])
    assert got["right"] == (rbuf["n"], rbuf["s"], pairs["n"], pairs["s"])


def test_pyds_stream_writer_epoch_commits_and_idempotent_replay(spark, tmp_path):
    """The streaming half of crs_jsonl_sink: per-epoch manifests are
    published atomically, an idle restart publishes nothing, and a
    REPLAYED batchId (the crash-recovery path Structured Streaming
    demands idempotency for) unlinks its duplicate staging instead of
    double-publishing."""
    import json
    import pathlib

    from chess_ratings_spark.sources.jsonl_sink import (
        JsonlCommit,
        JsonlStreamWriter,
        read_epoch_manifests,
    )
    from chess_ratings_spark.streaming import stream_ops
    from chess_ratings_spark import tables

    ev = tables.load(spark, SF_SMOKE, "events")
    row = stream_ops.pyds_stream_sink_census(spark, ev).collect()[0]
    n_events = ev.count()
    assert row["n_rows"] == n_events  # exactly-once across 3 runs
    assert row["n_data_epochs"] == 2
    assert row["orphan_excluded"] and row["counts_consistent"]

    # direct replay of a committed batchId: second commit must be a
    # no-op that scrubs the duplicate staged file
    out = tmp_path / "sink"
    out.mkdir()
    w = JsonlStreamWriter(str(out), ["a"])
    first = out / "part-first.jsonl"
    first.write_text('{"a": 1}\n')
    w.commit([JsonlCommit(path=str(first), n_rows=1)], batchId=7)
    dup = out / "part-replay.jsonl"
    dup.write_text('{"a": 1}\n')
    w.commit([JsonlCommit(path=str(dup), n_rows=1)], batchId=7)
    manifests = read_epoch_manifests(str(out))
    assert [m["batch_id"] for m in manifests] == [7]
    assert [pathlib.Path(f["path"]).name for f in manifests[0]["files"]] == [
        "part-first.jsonl"
    ]
    assert not dup.exists(), "replayed staging must be unlinked"
    assert first.exists()


def test_state_changefeed_two_post_images_per_group(spark):
    """The statestore change feed must hold exactly two 'update'
    post-images per event_type — batch 0 the even-user slice's
    aggregate, batch 1 the full aggregate."""
    from chess_ratings_spark import tables
    from chess_ratings_spark.streaming import stream_ops

    ev = tables.load(spark, SF_SMOKE, "events")
    rows = stream_ops.state_changefeed(spark, ev).collect()
    assert all(r["change_type"] == "update" for r in rows)
    got = {(r["batch_id"], r["event_type"]): (r["n"], r["vc"]) for r in rows}
    assert len(got) == len(rows)  # one post-image per (batch, group)
    vc = F.floor(F.col("value") * 100).cast("bigint")
    full = {
        r["event_type"]: (r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(vc).alias("s"))
        .collect()
    }
    even = {
        r["event_type"]: (r["n"], r["s"])
        for r in ev.filter("user_id % 2 = 0")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(vc).alias("s"))
        .collect()
    }
    for et, agg in even.items():
        assert got[(0, et)] == agg, f"batch-0 post-image drifted for {et}"
    for et, agg in full.items():
        assert got[(1, et)] == agg, f"batch-1 post-image drifted for {et}"


_jsr_events = st.lists(
    st.tuples(
        st.sampled_from(["l", "r"]),
        st.integers(0, 3),     # join key
        st.integers(0, 120),   # event second
    ),
    min_size=1,
    max_size=24,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_jsr_events)
def test_join_state_eviction_rule_on_random_event_sets(
    spark, tmp_path_factory, events
):
    """PROPERTY: the stream-stream join's buffered state equals the
    watermark eviction rule for ARBITRARY event sets, not just the
    fixture — left keeps a.ts >= wm - 5s (condition b.ts BETWEEN a.ts
    AND a.ts + 5s), right keeps b.ts >= wm, wm = min(per-side max ts)
    - 10s, both non-strict; a side with no rows keeps the global
    watermark at epoch zero so NOTHING evicts. This is the rule the
    driver query stream_state_reader_join's oracle recomputes — here
    it must hold on hypothesis-generated inputs."""
    import pathlib

    tmp = tmp_path_factory.mktemp("jsr_prop")
    rows = [
        (side, k, v, ts)
        for v, (side, k, ts) in enumerate(events)
    ]
    left_rows = [(k, v, ts) for side, k, v, ts in rows if side == "l"]
    right_rows = [(k, v, ts) for side, k, v, ts in rows if side == "r"]

    def stage(name, data):
        d = tmp / name
        d.mkdir()
        df = spark.createDataFrame(
            [
                (k, v, f"2024-01-01 00:{ts // 60:02d}:{ts % 60:02d}")
                for k, v, ts in data
            ]
            or [],
            "k bigint, v bigint, ts_s string",
        ).select("k", "v", F.col("ts_s").cast("timestamp").alias("ts"))
        df.coalesce(1).write.parquet(str(d / "p"))
        return d

    stage("l", left_rows)
    stage("r", right_rows)

    def src(side):
        return (
            spark.readStream.schema("k bigint, v bigint, ts timestamp")
            .parquet(str(tmp / side) + "/*")
            .withWatermark("ts", "10 seconds")
        )

    j = src("l").alias("a").join(
        src("r").alias("b"),
        F.expr("a.k = b.k AND b.ts BETWEEN a.ts AND a.ts + interval 5 seconds"),
    )
    ck = str(tmp / "ck")
    name = "crs_jsrp_" + pathlib.Path(str(tmp)).name[-6:]
    q = (
        j.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.catalog.dropTempView(name)

    if left_rows and right_rows:
        wm = min(max(ts for _, _, ts in left_rows),
                 max(ts for _, _, ts in right_rows)) - 10
    else:
        wm = None  # a silent source never advances the global watermark
    exp_left = sorted(
        v for _, v, ts in left_rows if wm is None or ts >= wm - 5
    )
    exp_right = sorted(
        v for _, v, ts in right_rows if wm is None or ts >= wm
    )
    got_left = sorted(
        r["value"]["v"]
        for r in spark.read.format("statestore")
        .option("joinSide", "left").load(ck).collect()
    )
    got_right = sorted(
        r["value"]["v"]
        for r in spark.read.format("statestore")
        .option("joinSide", "right").load(ck).collect()
    )
    assert got_left == exp_left, (wm, left_rows)
    assert got_right == exp_right, (wm, right_rows)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=200),
    qs=st.lists(
        st.sampled_from([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_kll_exact_regime_equals_order_statistic(spark, vals, qs):
    """PROPERTY behind agg_kll_quantile_merge's oracle: while the
    sketch capacity exceeds n (the exact regime), a MERGED KLL
    sketch's get_quantile equals the discrete order statistic
    sorted[ceil(q*n)-1] (DuckDB quantile_disc) and get_n is exact —
    for arbitrary integer multisets, split into per-group partial
    sketches and rolled up with kll_merge_agg."""
    import math

    df = spark.createDataFrame(
        [(v, i % 3) for i, v in enumerate(vals)], "v bigint, g int"
    )
    parts = df.groupBy("g").agg(
        F.expr("kll_sketch_agg_bigint(v, 65535)").alias("sk")
    )
    merged = parts.agg(F.expr("kll_merge_agg_bigint(sk, 65535)").alias("sk"))
    row = merged.select(
        F.expr("kll_sketch_get_n_bigint(sk)").alias("n"),
        *[
            F.expr(f"kll_sketch_get_quantile_bigint(sk, {q})").alias(f"q{i}")
            for i, q in enumerate(qs)
        ],
    ).collect()[0]
    s = sorted(vals)
    assert row["n"] == len(vals)
    for i, q in enumerate(qs):
        expected = s[max(math.ceil(q * len(vals)), 1) - 1]
        assert row[f"q{i}"] == expected, (q, len(vals), row[f"q{i}"], expected)


def test_pyds_stream_writer_concurrent_same_epoch_publishes_once(tmp_path):
    """Crash-replay race on ONE epoch: two writers committing the same
    batchId concurrently (engine replay racing a zombie driver) must
    publish exactly one manifest — the exclusive-create is the CAS —
    and every loser's staged file must be unlinked, never visible to a
    manifest-resolved reader. Threads are joined on every exit path
    (finally) so a failure can't strand spinners."""
    import json
    import threading

    from chess_ratings_spark.sources.jsonl_sink import (
        JsonlCommit,
        JsonlStreamWriter,
        read_epoch_manifests,
    )

    out = tmp_path / "sink"
    out.mkdir()
    N = 8
    files = []
    for i in range(N):
        f = out / f"part-att{i}.jsonl"
        f.write_text(json.dumps({"a": i}) + "\n")
        files.append(f)

    start = threading.Barrier(N)
    errs = []

    def attempt(i):
        try:
            start.wait(timeout=10)
            w = JsonlStreamWriter(str(out), ["a"])
            w.commit([JsonlCommit(path=str(files[i]), n_rows=1)], batchId=3)
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(N)]
    try:
        for t in threads:
            t.start()
    finally:
        for t in threads:
            t.join(timeout=30)
    assert not errs, errs
    manifests = read_epoch_manifests(str(out))
    assert [m["batch_id"] for m in manifests] == [3]
    published = [f["path"] for f in manifests[0]["files"]]
    assert len(published) == 1
    import pathlib

    survivors = sorted(p.name for p in out.glob("part-*.jsonl"))
    assert survivors == [pathlib.Path(published[0]).name]
    # the winner's file is intact and readable
    assert json.loads(open(published[0]).readline())["a"] in range(N)


def test_pyds_manifest_publish_is_never_torn(tmp_path):
    """A reader polling epoch manifests while commits land must never
    see a half-written file: the publish is mkstemp + hard-link (name
    appears WITH content). One writer thread lands 30 epochs while the
    reader polls continuously; any JSONDecodeError fails. Threads are
    joined on every exit path."""
    import json
    import threading

    from chess_ratings_spark.sources.jsonl_sink import (
        JsonlCommit,
        JsonlStreamWriter,
        read_epoch_manifests,
    )

    out = tmp_path / "sink"
    out.mkdir()
    w = JsonlStreamWriter(str(out), ["a"])
    stop = threading.Event()
    errs = []

    def writer():
        try:
            for b in range(30):
                f = out / f"part-w{b}.jsonl"
                f.write_text(json.dumps({"a": b}) + "\n")
                w.commit([JsonlCommit(path=str(f), n_rows=1)], batchId=b)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)
        finally:
            stop.set()

    def reader():
        try:
            while not stop.is_set():
                ms = read_epoch_manifests(str(out))
                assert [m["batch_id"] for m in ms] == sorted(
                    m["batch_id"] for m in ms
                )
        except Exception as exc:
            errs.append(exc)
            stop.set()

    threads = [threading.Thread(target=writer), threading.Thread(target=reader)]
    try:
        for t in threads:
            t.start()
        threads[0].join(timeout=60)  # writer finishes -> sets stop
    finally:
        stop.set()  # safety net: never strand the reader on failure
        for t in threads:
            t.join(timeout=30)
    assert not errs, errs
    assert len(read_epoch_manifests(str(out))) == 30


def test_state_reader_join_oracle_holds_with_a_silent_side(spark, tmp_path):
    """Latent-divergence regression (round-13 self-review): at an sf
    with NO purchases the engine's global watermark never advances
    (nothing evicts), while DuckDB's least() IGNORES NULLs — the
    oracle must map the empty side to 'no eviction' explicitly. Run
    the REAL query and the REAL oracle side-by-side on a doctored
    fixture (purchases filtered out) and compare multisets, exactly
    as the driver does."""
    import os
    from collections import Counter

    import duckdb

    import chess_ratings_spark.plans  # noqa: F401
    from chess_ratings_spark import registry, tables

    doctored = tmp_path / "sf"
    doctored.mkdir()
    (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .filter("event_type <> 'purchase'")
        .write.parquet(str(doctored / "events.parquet"))
    )
    for t in tables.TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", doctored / f"{t}.parquet")

    q = registry.REGISTRY["stream_state_reader_join"]
    df = q.fn(spark, str(doctored))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{doctored}/events.parquet/*.parquet')"
    )
    cur = con.execute(q.oracle)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    assert sorted(df.columns) == sorted(o_cols)
    s_ord = sorted(range(len(df.columns)), key=lambda j: df.columns[j])
    o_ord = sorted(range(len(o_cols)), key=lambda j: o_cols[j])
    s_m = Counter(tuple(r[j] for j in s_ord) for r in df.collect())
    o_m = Counter(tuple(r[j] for j in o_ord) for r in o_rows)
    assert s_m == o_m, (list((s_m - o_m).items())[:2], list((o_m - s_m).items())[:2])
    # and the no-eviction semantics actually bit: every view row is
    # still buffered on the left
    n_views = spark.read.parquet(str(doctored / "events.parquet")).filter(
        "event_type = 'view'"
    ).count()
    left = {r["side"]: r["n_buffered"] for r in df.collect()}["left"]
    assert left == n_views


def test_theta_setops_oracle_holds_with_a_missing_type(spark, tmp_path):
    """Same self-review class: an sf with NO purchase rows yields a
    NULL theta sketch for that side — the estimates must coalesce to
    0 exactly as the oracle's empty-set counts do."""
    import os
    from collections import Counter

    import duckdb

    import chess_ratings_spark.plans  # noqa: F401
    from chess_ratings_spark import registry, tables

    doctored = tmp_path / "sf"
    doctored.mkdir()
    (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .filter("event_type <> 'purchase'")
        .write.parquet(str(doctored / "events.parquet"))
    )
    for t in tables.TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", doctored / f"{t}.parquet")

    q = registry.REGISTRY["agg_theta_setops"]
    row = q.fn(spark, str(doctored)).collect()[0]
    assert row["n_purchase_users"] == 0
    assert row["n_view_and_purchase"] == 0
    assert row["n_view_only"] == row["n_view_users"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{doctored}/events.parquet/*.parquet')"
    )
    cur = con.execute(q.oracle)
    o_cols = [d[0] for d in cur.description]
    o = dict(zip(o_cols, cur.fetchall()[0]))
    got = {c: row[c] for c in o_cols}
    assert got == o


def test_ttl_state_survivors_match_batch_replay(spark):
    """stream_state_ttl (r14): the offline statestore read after the
    TTL stream must equal a pure-batch replay of the semantics —
    per-user generations split on sorted 48 h gaps, survivors = last
    generation within TTL of the final watermark (engine ms clock),
    carrying exact counters + the lifetime generation census."""
    from pyspark.sql import Window

    ev = tables.load(spark, SF_SMOKE, "events")
    got = {
        tuple(r)
        for r in stream_ops.ttl_state_stream(spark, ev).collect()
    }

    ttl_us = 172_800_000_000
    us = (
        F.unix_date(F.col("ts").cast("date")) * F.lit(86_400_000_000)
        + (F.hour("ts") * 3600 + F.minute("ts") * 60).cast("bigint")
        * F.lit(1_000_000)
        + (F.expr("extract(SECOND FROM ts)") * 1_000_000).cast("bigint")
    )
    e = ev.select(
        "user_id",
        us.alias("us"),
        F.floor(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy("us")
    g = e.withColumn(
        "brk",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > ttl_us),
            1,
        ).otherwise(0),
    ).withColumn("sid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    agg = g.groupBy("user_id").agg(F.max("sid").alias("gens"))
    lastgen = (
        g.join(agg, "user_id")
        .filter(F.col("sid") == F.col("gens"))
        .groupBy("user_id", "gens")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum("vc").alias("vc_live"),
            F.max("us").alias("last_us"),
        )
    )
    max_us = e.agg(F.max("us")).collect()[0][0]
    expected = {
        tuple(r)
        for r in lastgen.select(
            "user_id", "gens", "n_live", "vc_live", "last_us"
        ).collect()
        if (r.last_us // 1000 + ttl_us // 1000) >= (max_us // 1000 - 3_600_000)
    }
    assert got == expected
    assert len(got) > 0


def test_ttl_state_evicts_resets_and_survives(spark, tmp_path):
    """Planted three-way fixture: user 1 goes silent long before the final
    watermark (state EVICTED — absent from the read, its key proven
    gone, not just unreturned), user 2 has one >TTL gap (counters
    RESET, gens=2, only the fresh generation's counters survive),
    user 3 is steadily active (gens=1, full counters)."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    H = dt.timedelta(hours=1)
    D = dt.timedelta(days=1)
    rows = []
    # user 1: three events, last one 30 days before the end -> evicted
    for i in range(3):
        rows.append((100 + i, base + i * H, 1, "view", 1.0, "{}"))
    # user 2: two early events, a 3-day gap (> 48h TTL), two late ones
    rows.append((200, base + 27 * D, 2, "view", 2.0, "{}"))
    rows.append((201, base + 27 * D + H, 2, "view", 2.0, "{}"))
    rows.append((202, base + 30 * D, 2, "view", 3.0, "{}"))
    rows.append((203, base + 30 * D + H, 2, "view", 3.0, "{}"))
    # user 3: daily events over the last 3 days -> one generation
    for i in range(4):
        rows.append((300 + i, base + 27 * D + i * D, 3, "view", 5.0, "{}"))
    ev = spark.createDataFrame(
        [(eid, ts, uid, et, v, p) for eid, ts, uid, et, v, p in rows],
        schema=stream_ops.EVENT_SCHEMA,
    )
    out = {r.user_id: r for r in stream_ops.ttl_state_stream(spark, ev).collect()}
    assert set(out) == {2, 3}, "user 1 must be TTL-evicted from the store"
    assert (out[2].gens, out[2].n_live, out[2].vc_live) == (2, 2, 600)
    assert (out[3].gens, out[3].n_live, out[3].vc_live) == (1, 4, 2000)


def test_land_slice_links_equal_direct_write_and_never_mutate_shared(spark, tmp_path):
    """Round-15 staging optimization: _land_slice hardlinks a slice's
    session-cached staged files into a run-private dir. The landed
    content must equal a direct write, a second slice must append
    without clobbering the first, and mutating the private dir must
    never change the shared staged copy."""
    import os

    from pyspark.sql import functions as F

    from chess_ratings_spark.streaming import stream_ops

    src = str(tmp_path / "src")
    spark.range(0, 150).write.parquet(src)
    ids = spark.read.parquet(src)
    df_a = ids.filter(F.col("id") < 100).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("vc")
    )
    df_b = ids.filter(F.col("id") >= 100).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("vc")
    )

    dest = str(tmp_path / "in")
    stream_ops._land_slice(df_a, dest)
    shared_a = stream_ops._slice_stage(df_a)
    listing_before = sorted(os.listdir(shared_a))

    got_a = spark.read.parquet(dest)
    assert got_a.count() == 100
    assert got_a.agg(F.sum("vc")).collect()[0][0] == df_a.agg(
        F.sum("vc")
    ).collect()[0][0]

    # append a second slice: no collision, union content
    stream_ops._land_slice(df_b, dest)
    got_ab = spark.read.parquet(dest)
    assert got_ab.count() == 150
    assert set(
        r[0] for r in got_ab.select("event_id").collect()
    ) == set(range(150))

    # a raw append into the private dir must leave the shared staged
    # copy untouched (Hadoop commits via rename, never in-place)
    df_b.write.mode("append").parquet(dest)
    assert sorted(os.listdir(shared_a)) == listing_before
    assert spark.read.parquet(shared_a).count() == 100

    # cache hit: the same slice resolves to the same staged dir
    assert stream_ops._slice_stage(df_a) == shared_a
