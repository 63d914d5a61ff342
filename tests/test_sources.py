"""Ingest-source resilience tests: the bounded-retry fetch policy
(reference @task(retries=3), ingest_web_to_gcs.py:67) proven offline by
injecting transient failures, plus the in-memory zip+XML parse path."""

from __future__ import annotations

import contextlib
import io
import zipfile
from pathlib import Path

import pytest

from chess_ratings_spark.sources import http_xml


class _FlakyOpener:
    """Injectable urlopen stand-in: fails with URLError-ish exceptions
    for the first `fail_n` calls, then serves `payload`."""

    def __init__(self, fail_n: int, payload: bytes = b"ok"):
        self.fail_n = fail_n
        self.payload = payload
        self.calls = 0

    @contextlib.contextmanager
    def __call__(self, url, timeout=None):
        self.calls += 1
        if self.calls <= self.fail_n:
            raise OSError(f"transient failure #{self.calls}")

        class _Resp:
            def read(_self) -> bytes:
                return self.payload

        yield _Resp()


def test_fetch_recovers_after_transient_failures():
    opener = _FlakyOpener(fail_n=2, payload=b"zip-bytes")
    out = http_xml.fetch("http://x/y.zip", retries=3, backoff_s=0.0, _urlopen=opener)
    assert out == b"zip-bytes"
    assert opener.calls == 3  # two failures + one success


def test_fetch_surfaces_after_bounded_attempts():
    opener = _FlakyOpener(fail_n=99)
    with pytest.raises(RuntimeError, match="after 4 attempts"):
        http_xml.fetch("http://x/y.zip", retries=3, backoff_s=0.0, _urlopen=opener)
    assert opener.calls == 4  # initial + 3 retries, then surface


def test_zip_xml_roundtrip_parses():
    xml = (
        b"<playerslist>"
        b"<player><fideid>1</fideid><name>A</name><rating>2500</rating></player>"
        b"<player><fideid>2</fideid><name>B</name><rating>2400</rating></player>"
        b"</playerslist>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("ratings.xml", xml)
    pdf = http_xml.parse_ratings_xml(http_xml.unzip_single(buf.getvalue()))
    assert list(pdf["fideid"]) == [1, 2]
    assert list(pdf["rating"]) == [2500, 2400]


def _stub_zip(n: int = 4) -> bytes:
    players = "".join(
        f"<player><fideid>{i}</fideid><name>P{i}</name><country>USA</country>"
        f"<sex>M</sex><rating>{2000 + i}</rating><games>3</games><k>20</k>"
        f"<birthday>1980</birthday><flag></flag></player>"
        for i in range(1, n + 1)
    )
    xml = f"<playerslist>{players}</playerslist>".encode()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("x.xml", xml)
    return buf.getvalue()


def test_month_url_matches_column_twin(spark):
    """The Python URL builder the DataSource fetches with must agree
    with the Column expression src_url_gen serves (functions/scalar.py
    ::ratings_url) on every (format, month) of a backfill grid."""
    from pyspark.sql import functions as F

    from chess_ratings_spark import tables
    from chess_ratings_spark.functions import scalar

    grid = [
        (f, y, m)
        for f in ("standard", "rapid", "blitz")
        for y in (1999, 2015, 2024)
        for m in (1, 6, 12)
    ]
    rows = (
        tables.local_table(
            spark,
            grid,
            [("game_format", "string"), ("y", "int"), ("m", "int")],
        )
        .select(
            "game_format", "y", "m",
            scalar.ratings_url(F.col("game_format"), F.col("y"), F.col("m")).alias("u"),
        )
        .collect()
    )
    for r in rows:
        assert http_xml.month_url(r.game_format, r.y, r.m) == r.u


def test_web_datasource_partitions_fan_out():
    reader = http_xml.FideWebReader(
        {"formats": "standard,rapid", "months": "2024-01,2024-02,2024-03"}
    )
    parts = reader.partitions()
    assert len(parts) == 6
    assert {(p.game_format, p.year, p.month) for p in parts} == {
        (f, 2024, m) for f in ("standard", "rapid") for m in (1, 2, 3)
    }


def test_web_datasource_requires_months():
    with pytest.raises(ValueError, match="months"):
        http_xml.FideWebReader({"formats": "standard"})


def test_web_datasource_reads_multi_month_offline(spark):
    """End-to-end through the registered Spark source: 2 formats × 2
    months = 4 partitions, each stamped with its own period, missing
    columns (title family) arriving as typed NULLs."""
    import base64

    http_xml.register_web_source(spark)
    df = (
        spark.read.format("fide_web_xml")
        .option("formats", "standard,blitz")
        .option("months", "2024-06,2024-07")
        .option("stub_zip_b64", base64.b64encode(_stub_zip(4)).decode())
        .load()
    )
    rows = df.collect()
    assert len(rows) == 4 * 4
    stamps = {(r.game_format, r.period_year, r.period_month) for r in rows}
    assert stamps == {
        (f, 2024, m) for f in ("standard", "blitz") for m in (6, 7)
    }
    assert all(r.foa_title is None for r in rows)  # absent column -> typed NULL
    assert df.schema.simpleString() == (
        "struct<fideid:bigint,name:string,country:string,sex:string,"
        "title:string,w_title:string,o_title:string,foa_title:string,"
        "rating:bigint,games:bigint,k:bigint,birthday:bigint,flag:string,"
        "period_year:int,period_month:int,game_format:string>"
    )


def test_pyds_sink_abort_unlinks_and_commit_is_atomic(spark, tmp_path):
    """The two-phase sink's failure path: a task exception after some
    tasks wrote their part-files must trigger abort() — no manifest
    appears (the atomicity contract readers depend on) and the written
    part-files are unlinked.

    Straggler window, tested at the contract level: Spark cancels
    in-flight tasks asynchronously on job failure, so a cancelled task
    can complete its tmp→final rename AFTER driver-side abort() already
    scrubbed — under full-suite JVM load this happens near-
    deterministically (observed), and it is the same window Spark's own
    FileOutputCommitter has. Such orphans are INVISIBLE to manifest-
    resolved readers (the production contract; sink_manifest_atomic
    plants the same shape deliberately). So: the no-manifest assertion
    is strict and race-free; for the files, the test waits for
    stragglers to settle and then proves the scrub LOGIC itself by
    re-running abort() — the orphan cleanup a production deployment
    schedules — which must leave nothing behind."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from chess_ratings_spark.sources.jsonl_sink import (
        MANIFEST_NAME,
        JsonlManifestSink,
    )

    try:
        spark.dataSource.register(JsonlManifestSink)
    except Exception:
        pass

    import time

    out = str(tmp_path / "sink")
    poisoned = (
        spark.range(100)
        .repartition(4)
        .select(
            "id",
            F.when(F.col("id") == 37, F.lit(None))
            .otherwise(F.col("id"))
            .alias("v"),
        )
        .selectExpr(
            "id", "CAST(assert_true(v IS NOT NULL) AS STRING) AS chk", "v"
        )
    )
    with _pytest.raises(Exception):
        poisoned.write.format("crs_jsonl_sink").option("path", out).mode(
            "append"
        ).save()

    # (1) atomicity — race-free and strict: no manifest ever appears
    assert not os.path.exists(os.path.join(out, MANIFEST_NAME))

    # (2) wait until cancelled stragglers settle (dir stable, no .tmp)
    def listing() -> list[str]:
        return sorted(os.listdir(out)) if os.path.exists(out) else []

    prev = listing()
    for _ in range(20):
        time.sleep(0.5)
        cur = listing()
        if cur == prev and not any(f.startswith(".tmp-") for f in cur):
            break
        prev = cur

    # (3) any remaining part files are engine stragglers that renamed
    # AFTER abort()'s scrub (task cancellation is asynchronous — the
    # same window Spark's own FileOutputCommitter has; they are
    # invisible to manifest-resolved readers by (1)). The scrub LOGIC
    # itself must still be correct: re-running abort() — the orphan
    # cleanup a production deployment schedules — must clear them.
    from chess_ratings_spark.sources.jsonl_sink import JsonlManifestWriter

    JsonlManifestWriter(out, ["id", "chk", "v"]).abort([None])
    leftover = [
        f
        for f in listing()
        if f.endswith(".jsonl") or f.startswith(".tmp-")
    ]
    assert leftover == []
    assert not os.path.exists(os.path.join(out, MANIFEST_NAME))


def test_pyds_filter_pushdown_prunes_planned_partitions(spark, tmp_path):
    """Engine-driven certification: with the pushdown flag on, a
    .filter() on the crs_tablelog format must reach pushFilters before
    partitions(), so the scan plans only stat-overlapping files (3 of
    8 here) — observable as the scan RDD's partition count. The plain
    reader (no pushdown option) plans all 8. Results match either
    way (the exact predicate stays in the plan)."""
    from pyspark.sql import functions as F

    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.sources.tablelog_batch import TableLogBatchSource

    try:
        spark.dataSource.register(TableLogBatchSource)
    except Exception:
        pass
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    log = TableLog(tmp_path / "t")
    df = spark.range(80).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    log.append_range_bucketed(df, "k", width=10, tag="r")

    def fmt(pushdown):
        return (
            spark.read.format("crs_tablelog")
            .option("path", str(tmp_path / "t"))
            .option("schema", "k bigint, v bigint")
            .option("key_col", "k")
            .option("pushdown", pushdown)
            .load()
            .filter(F.col("k").between(25, 44))
        )

    pruned, plain = fmt("true"), fmt("false")
    assert pruned.rdd.getNumPartitions() == 3  # buckets [20,30) [30,40) [40,50)
    assert plain.rdd.getNumPartitions() == 8
    assert sorted(r.k for r in pruned.collect()) == list(range(25, 45))
    assert sorted(r.k for r in plain.collect()) == list(range(25, 45))


def test_pyds_batch_reader_applies_scoped_dvs(spark, tmp_path):
    """A MOR UPDATE/MERGE masks old row versions with FILE-SCOPED
    (file, key) pairs; the batch DataSource must apply them like
    snapshot_mor does — without this, reading an updated table through
    the standard reader API shows BOTH versions of every updated key
    (the round-11 cross-feature gap this test pins)."""
    from pyspark.sql import functions as F

    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.sources.tablelog_batch import TableLogBatchSource

    try:
        spark.dataSource.register(TableLogBatchSource)
    except Exception:
        pass
    log = TableLog(tmp_path / "t")
    df = spark.range(40).select(
        F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
    )
    log.append_range_bucketed(df, "k", width=10, tag="r")
    log.update_mor(spark, "k BETWEEN 5 AND 14", {"v": "v + 7"}, ["k"])
    log.merge_mor(
        spark,
        spark.range(38, 44).select(
            F.col("id").alias("k"), F.lit(9).cast("bigint").alias("v")
        ),
        ["k"],
    )

    got = (
        spark.read.format("crs_tablelog")
        .option("path", str(tmp_path / "t"))
        .option("schema", "k bigint, v bigint")
        .option("key_col", "k")
        .load()
    )
    want = log.snapshot_mor(spark)
    assert sorted((r.k, r.v) for r in got.collect()) == sorted(
        (r.k, r.v) for r in want.collect()
    )
    rows = {r.k: r.v for r in got.collect()}
    assert len(rows) == 44  # 40 + 4 fresh merge inserts, NO duplicates
    assert all(rows[k] == 7 for k in range(5, 15))
    assert all(rows[k] == 9 for k in range(38, 44))


def test_pyds_batch_reader_composite_key_scoped_dvs(spark, tmp_path):
    """Composite (2-column) scoped-DV keys exercise the reader's Arrow
    anti-join path (single keys take the is_in kernel; pyarrow has no
    struct is_in) — masking and row content must match snapshot_mor
    exactly, and planning must hand each partition only the artifacts
    that name its file."""
    from pyspark.sql import functions as F

    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.sources.tablelog_batch import (
        TableLogBatchReader,
        TableLogBatchSource,
    )

    try:
        spark.dataSource.register(TableLogBatchSource)
    except Exception:
        pass
    log = TableLog(tmp_path / "t")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("g"),
        F.lit(0).cast("bigint").alias("v"),
    )
    log.append_range_bucketed(df, "k", width=10, tag="r")
    log.update_mor(spark, "k BETWEEN 5 AND 14", {"v": "v + 7"}, ["k", "g"])

    got = (
        spark.read.format("crs_tablelog")
        .option("path", str(tmp_path / "t"))
        .option("schema", "k bigint, g bigint, v bigint")
        .option("key_col", "k")
        .load()
    )
    want = log.snapshot_mor(spark)
    assert sorted((r.k, r.g, r.v) for r in got.collect()) == sorted(
        (r.k, r.g, r.v) for r in want.collect()
    )
    rows = {r.k: r.v for r in got.collect()}
    assert len(rows) == 40 and all(rows[k] == 7 for k in range(5, 15))

    # planning pre-groups artifacts by file: a partition whose file no
    # pair names carries NO scoped artifacts (round-11 ADVICE — the
    # reader used to re-open every artifact in every partition)
    m = log.read_manifest()
    r = TableLogBatchReader(str(tmp_path / "t"), "k", ["k", "g", "v"], None)
    parts = r.partitions()
    assert len(m.get("delete_vectors_scoped", [])) == 1
    n_with = sum(1 for p in parts if p.scoped_dv_files)
    # the update touched k in [5, 14] => exactly 2 of the 4 width-10
    # buckets carry the artifact; the other 2 buckets AND the update's
    # own landed file carry none (5 partitions total)
    assert n_with == 2 and len(parts) == 5


def test_pyds_readers_read_dv_dirs_with_recorded_schema(spark, tmp_path):
    """DV dirs hold ``_schema.json`` beside the key parquet; the batch
    and the CDF stream DataSources read them with pyarrow, which must
    skip that file: the batch read equals snapshot_mor, and the stream
    emits exactly the masked rows as deletes."""
    from pyspark.sql import functions as F

    from chess_ratings_spark.operators.tablelog import TableLog, _write_dv
    from chess_ratings_spark.sources.tablelog_batch import TableLogBatchSource
    from chess_ratings_spark.sources.tablelog_stream import TableLogCdfSource

    for src in (TableLogBatchSource, TableLogCdfSource):
        try:
            spark.dataSource.register(src)
        except Exception:
            pass
    base = str(tmp_path / "t")
    log = TableLog(base)
    log.append_range_bucketed(
        spark.range(40).select(
            F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
        ),
        "k", width=10, tag="r",
    )
    dv = _write_dv(
        spark.range(0, 40, 9).select(F.col("id").alias("k")), str(tmp_path / "dv")
    )
    log.commit(
        log.read_manifest()["files"], op="delete-mor",
        extra={"delete_vectors": [dv]},
    )
    log.update_mor(spark, "k BETWEEN 11 AND 14", {"v": "v + 7"}, ["k"])
    scoped = log.read_manifest()["delete_vectors_scoped"]
    for d in (dv, *scoped):
        assert (Path(d) / "_schema.json").is_file()

    got = (
        spark.read.format("crs_tablelog")
        .option("path", base)
        .option("schema", "k bigint, v bigint")
        .option("key_col", "k")
        .load()
    )
    assert sorted(got.collect()) == sorted(log.snapshot_mor(spark).collect())

    out = str(tmp_path / "feed")
    (
        spark.readStream.format("crs_tablelog_cdf")
        .option("path", base)
        .option("schema", "k bigint, v bigint")
        .option("key_col", "k")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    deletes = sorted(
        (r._commit_version, r.k)
        for r in spark.read.parquet(out).collect()
        if r._change_type == "delete"
    )
    assert deletes == [(1, k) for k in range(0, 40, 9)] + [
        (2, k) for k in range(11, 15)
    ]
