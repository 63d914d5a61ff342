"""Multimodal decode tests: the pure-numpy PPM/WAV/PPM-stream codecs
round-trip real bytes, and the Spark pipeline's header-derived fields
match the generator metadata (meta_ok) for every document."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from chess_ratings_spark.operators import multimodal as mm

from .conftest import SF_SMOKE


def test_ppm_roundtrip():
    body = np.arange(5 * 4 * 3, dtype=np.uint8)
    buf = mm.make_payload("image", "hello", 5, 4, 1)
    img, end = mm.decode_ppm(buf)
    assert img.shape == (4, 5, 3)
    assert end == len(buf)
    # header is genuine PPM: magic + dims parse from bytes alone
    assert buf.startswith(b"P6\n5 4\n255\n")
    assert img.tobytes() == buf[len(b"P6\n5 4\n255\n") :]
    del body


def test_ppm_stream_roundtrip():
    buf = mm.make_payload("video", "clip", 6, 3, 4)
    frames = mm.decode_ppm_stream(buf)
    assert len(frames) == 4
    assert all(f.shape == (3, 6, 3) for f in frames)
    # frames differ (payload is not a repeated tile)
    assert not np.array_equal(frames[0], frames[1])


def test_wav_roundtrip():
    buf = mm.make_payload("audio", "sound", 200, 1, 1)
    samples, rate, channels = mm.decode_wav(buf)
    assert (len(samples), rate, channels) == (200, mm.WAV_RATE, 1)
    assert buf[:4] == b"RIFF" and buf[8:12] == b"WAVE"
    # canonical 44-byte header + 16-bit mono data
    assert len(buf) == 44 + 200 * 2


def test_decode_pipeline_meta_ok_everywhere(spark):
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    media = mm.attach_fake_media(d)
    decoded = mm.decode_and_featurize(media)
    agg = decoded.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~F.col("meta_ok"), 1).otherwise(0)).alias("bad"),
        F.min("feat_std").alias("min_std"),
    ).collect()[0]
    assert agg.n == d.count()
    assert agg.bad == 0, "decoded header fields must match metadata"
    assert agg.min_std > 0, "decoded samples must not be constant"


def test_decoded_dims_come_from_bytes_not_metadata(spark):
    """Corrupt the metadata AFTER payload generation: decode must report
    the true (payload) dims and flag the mismatch — proof the decoder
    reads headers, not the metadata columns."""
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(30)
    media = mm.attach_fake_media(d).withColumn(
        "width", (F.col("width") + 1).cast("int")
    )
    out = mm.decode_and_featurize(media)
    rows = out.collect()
    assert rows and all(not r.meta_ok for r in rows)
    for r in rows:
        if r.media_type == "image":
            payload_w = int(
                mm.decode_ppm(
                    media.filter(F.col("doc_id") == r.doc_id).collect()[0].payload
                )[0].shape[1]
            )
            assert r.width == payload_w


def test_sketch_quantiles_within_certified_bounds(spark):
    """agg_sketch_quantiles' in-plan certification must actually hold:
    every approx percentile lies inside its exact ±2-rank-percent
    bracket."""
    from chess_ratings_spark.plans.lakehouse import agg_sketch_quantiles

    rows = agg_sketch_quantiles(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.within_bound for r in rows)
    for r in rows:
        assert r.exact_p50 <= r.exact_p90 <= r.exact_p99


def test_driver_order_contract():
    """The driver oracle-checks the first WINDOW names in queries()
    order, and queries() must emit exactly the order the registry
    derives. Window contract, stated as the POLICY rather than any one
    round's instance: every window slot must be JUSTIFIED — (a) never
    driver-checked (a new registration), or (b) its evidence DEADLINE
    (latest green row + its class's freshness floor + 1) falls within
    two rounds of the round being built (mandatory now, or a pre-emption
    from the next two rounds' mandatory cohorts — the horizon
    test_next_round_cohort_fits_window simulates). And the never-checked
    backlog must ALL be in the window."""
    import chess_ratings_spark.plans  # noqa: F401
    from chess_ratings_spark import registry

    rot = registry.rotation()
    names = list(registry.queries())
    assert len(set(names)) == len(names)
    assert names == rot.order

    window = names[: registry.WINDOW]
    unjustified = [
        n
        for n in window
        if n in rot.latest and rot.deadline(n) > rot.current + 2
    ]
    assert not unjustified, f"window slots wasted: {unjustified}"

    never_checked = [n for n in names if n not in rot.latest]
    missing = [n for n in never_checked if n not in window]
    assert not missing, f"never-driver-checked names left out of window: {missing}"


def test_image_resize_roundtrip(spark):
    import chess_ratings_spark.plans  # noqa: F401
    from chess_ratings_spark.registry import REGISTRY

    from .conftest import SF_SMOKE

    row = REGISTRY["mm_image_resize"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_resize_fail"] == 0
    assert row["n_images"] > 0
    # 16x16 RGB PPM: header "P6\n16 16\n255\n" (13 bytes) + 768 body
    assert row["total_bytes"] == row["n_images"] * (13 + 16 * 16 * 3)


def test_audio_frame_energy_matches_numpy(spark):
    """Frame energies from the Spark pipeline equal an independent
    numpy decode+window of the same payloads, bit-for-bit."""
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(60)
    media = mm.attach_fake_media(d)
    got = {
        (r.doc_id, r.frame_idx): (r.n_samples, r.energy)
        for r in mm.audio_frame_energy(media).collect()
    }
    assert got
    for r in media.filter(F.col("media_type") == "audio").collect():
        samples, rate, ch = mm.decode_wav(bytes(r.payload))
        s64 = samples.astype(np.int64)
        for k, i in enumerate(range(0, len(s64), mm.AUDIO_FRAME)):
            chunk = s64[i : i + mm.AUDIO_FRAME]
            assert got[(r.doc_id, k)] == (len(chunk), int((chunk * chunk).sum()))


def test_video_frame_diffs_match_numpy(spark):
    """Transition energies from the Spark pipeline equal an independent
    numpy decode+diff of the same payloads, bit-for-bit."""
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(60)
    media = mm.attach_fake_media(d)
    got = {
        (r.doc_id, r.t_idx): r.diff_energy
        for r in mm.video_frame_diffs(media).collect()
    }
    assert got
    for r in media.filter(F.col("media_type") == "video").collect():
        frames = mm.decode_ppm_stream(bytes(r.payload))
        for t in range(1, len(frames)):
            want = int(
                np.abs(
                    frames[t].astype(np.int64) - frames[t - 1].astype(np.int64)
                ).sum()
            )
            assert got[(r.doc_id, t - 1)] == want
