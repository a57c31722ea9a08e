"""Streaming rollup == batch rollup on the same files (availableNow
trigger); multimodal Arrow plumbing with the deterministic fake decoder."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.operators.multimodal import extract_features, probe_metadata, sample_frames
from gmql_spark.operators.rollup import rollup
from gmql_spark.streaming.rollup_stream import stream_rollup


def _stage_with_null_ts(raw, src, not_null=None):
    """Write ``raw`` plus five of its rows with ``ts`` nulled to ``src``
    (rows where ``not_null`` is set, so they would feed the aggregate).
    The stream twins drop null-``ts`` rows, so their output must equal
    the batch twin over ``raw`` alone."""
    pick = raw if not_null is None else raw.filter(F.col(not_null).isNotNull())
    nulls = pick.limit(5).withColumn("ts", F.lit(None).cast("timestamp"))
    raw.unionByName(nulls).write.parquet(src)
    staged = raw.sparkSession.read.parquet(src)
    assert staged.filter(F.col("ts").isNull()).count() == 5


def test_stateful_sessionizer_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer == batch sessionize for every
    CLOSED session: a session closes when a newer same-key event breaks
    the gap OR the event-time timeout fires (the final watermark advance
    closes everything ending > timeout before the global max ts). Only
    sessions still extendable at stream end may remain in state."""
    from gmql_spark.operators.session import sessionize
    from gmql_spark.streaming.session_stream import stream_sessionize

    raw = datagen.transcripts_spark(spark, n_conv=30).select("conv_id", "ts")
    src = str(tmp_path / "sess_src")
    raw.write.parquet(src)

    stream = spark.readStream.schema(raw.schema).parquet(src)
    out = stream_sessionize(stream, gap_timeout_s=120.0, watermark="0 seconds")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .format("memory")
        .queryName("sessions_stream")
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("select * from sessions_stream")
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )

    batch = sessionize(raw, gap_timeout_s=120.0).toPandas()
    assert len(got) > 0, "no closed sessions emitted"

    def rows(df):
        return {
            (r.conv_id, pd.Timestamp(r.session_start), pd.Timestamp(r.session_end),
             int(r.n_turns))
            for r in df.itertuples()
        }

    got_rows, batch_rows = rows(got), rows(batch)
    # every emitted session is a genuine batch session (same bounds+count)
    assert got_rows <= batch_rows, got_rows - batch_rows
    # every session that event-time CLOSED (end + timeout safely behind
    # the final watermark = global max ts) must have been emitted; only
    # still-extendable tails may be held in state
    max_ts = pd.Timestamp(max(r[2] for r in batch_rows))
    margin = pd.Timedelta(seconds=1)
    must_emit = {r for r in batch_rows
                 if r[2] + pd.Timedelta(seconds=120) + margin < max_ts}
    may_hold = {r for r in batch_rows
                if r[2] + pd.Timedelta(seconds=120) - margin > max_ts}
    assert must_emit <= got_rows, must_emit - got_rows
    assert not (got_rows & may_hold), got_rows & may_hold


def test_stream_rollup_matches_batch(spark, tmp_path):
    raw = datagen.transcripts_spark(spark, n_conv=40)
    src = str(tmp_path / "src")
    _stage_with_null_ts(raw, src)

    stream = spark.readStream.schema(raw.schema).parquet(src)
    agg = stream_rollup(stream, "1h", watermark="0 seconds")
    q = (
        agg.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .format("memory")
        .queryName("stream_rollup_test")
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.sql("select * from stream_rollup_test")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    exp = (
        rollup(raw, "1h")
        .select(
            "conv_id", "window_start", "window_end", "turn_count",
            "role_counts", "tool_counts", "first_ts", "last_ts",
        )
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    # availableNow + append + 0s watermark emits all windows
    pd.testing.assert_frame_equal(
        got.drop(columns=["role_counts", "tool_counts"]),
        exp.drop(columns=["role_counts", "tool_counts"])[
            [c for c in got.columns if c not in ("role_counts", "tool_counts")]
        ],
        check_dtype=False,
    )
    for i in range(len(got)):
        assert dict(got.role_counts[i]) == dict(exp.role_counts[i])


@pytest.fixture()
def media(spark):
    rows = [
        (i, "image", bytes([i % 256]) * (100 + i), "image/fake", (None, None, 5000, None))
        for i in range(20)
    ]
    return spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "meta struct<width:int, height:int, duration_ms:int, sample_rate:int>",
    )


def test_multimodal_features_deterministic(spark, media):
    f1 = extract_features(media, dim=8).toPandas().sort_values("media_id")
    f2 = extract_features(media, dim=8).toPandas().sort_values("media_id")
    assert all(len(v) == 8 for v in f1.feature)
    for a, b in zip(f1.feature, f2.feature):
        assert np.allclose(a, b)


def test_multimodal_probe_and_frames(spark, media):
    meta = probe_metadata(media).toPandas()
    assert (meta.n_bytes == [100 + i for i in meta.media_id]).all()
    frames = sample_frames(media.select("media_id", F.col("meta.duration_ms").alias("duration_ms")))
    pf = frames.toPandas()
    assert set(pf[pf.media_id == 0].frame_ms) == {0, 1000, 2000, 3000, 4000}


def test_merge_batch_late_events():
    """Out-of-order arrivals the watermark admits must extend held
    intervals with min/max bounds, never regress last_us or miss
    pre-start extension; an interval closes only once the watermark
    passes its end + timeout (not merely because a newer run exists)."""
    from gmql_spark.streaming.session_stream import _merge_batch

    T = 120_000_000  # 120 s in us
    s = lambda sec: sec * 1_000_000  # noqa: E731
    open_s = [(s(1000), s(1100), 5)]

    # open session [1000, 1100]; late event at 1050 (inside span)
    closed, kept = _merge_batch(np.array([s(1050)]), open_s, T, 0)
    assert closed == [] and kept == [(s(1000), s(1100), 6)]

    # late event BEFORE start but within timeout: start moves earlier
    closed, kept = _merge_batch(np.array([s(950)]), open_s, T, 0)
    assert closed == [] and kept == [(s(950), s(1100), 6)]

    # late event before last_us must NOT shrink session_end: the 1200
    # event (within timeout of last_us=1100) extends the end even though
    # the batch also carries a late 1050 event
    closed, kept = _merge_batch(np.array([s(1050), s(1200)]), open_s, T, 0)
    assert closed == [] and kept == [(s(1000), s(1200), 7)]

    # a run entirely in the past, > timeout before the open session:
    # held until the watermark passes its end + timeout (a late event
    # at e.g. 200 could still legitimately extend it!), then closed
    closed, kept = _merge_batch(np.array([s(100), s(150)]), open_s, T, 0)
    assert closed == [] and kept == [(s(100), s(150), 2), (s(1000), s(1100), 5)]
    closed, kept = _merge_batch(
        np.array([s(100), s(150)]), open_s, T, s(150) + T + 1
    )
    assert closed == [(s(100), s(150), 2)] and kept == [(s(1000), s(1100), 5)]

    # batch bridging two runs into the open session across a late gap
    closed, kept = _merge_batch(np.array([s(700), s(800), s(900)]), open_s, T, 0)
    assert closed == [] and kept == [(s(700), s(1100), 8)]

    # a held historical interval a late batch run bridges INTO — the
    # eager all-but-newest close would have emitted [100,150] already
    # and the bridge would re-emit overlapping bounds; watermark-gating
    # coalesces them exactly
    two = [(s(100), s(150), 2), (s(1000), s(1100), 5)]
    closed, kept = _merge_batch(np.array([s(220), s(300)]), two, T, 0)
    assert closed == [] and kept == [(s(100), s(300), 4), (s(1000), s(1100), 5)]

    # watermark past everything: all intervals close, none kept
    closed, kept = _merge_batch(np.empty(0, dtype=np.int64), two, T, s(10_000))
    assert closed == two and kept == []


# --------------------------------------------- real BMP / PPM codecs

def test_image_codec_round_trips():
    from gmql_spark.operators.multimodal import (
        decode_bmp,
        decode_image,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.Generator(np.random.PCG64(9))
    for w in (3, 4, 5, 16):  # w=3,5 exercise the 4-byte BMP row padding
        px = rng.integers(0, 256, size=(7, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)
        assert np.array_equal(decode_ppm(encode_ppm(px)), px)
        assert np.array_equal(decode_image(encode_bmp(px)), px)
    gray = rng.integers(0, 256, size=(5, 6), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(gray)), gray)  # P5


def test_ppm_header_comments_and_bmp_variants():
    import struct

    from gmql_spark.operators.multimodal import decode_bmp, decode_ppm, encode_bmp

    px = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    # hand-built P6 with comments inside the header
    payload = b"P6\n# a comment\n4 # width\n3\n# another\n255\n" + px.tobytes()
    assert np.array_equal(decode_ppm(payload), px)

    # top-down BMP (negative height): flip rows + sign in the header
    bottom_up = bytearray(encode_bmp(px))
    h = struct.unpack_from("<i", bottom_up, 22)[0]
    struct.pack_into("<i", bottom_up, 22, -h)
    row_bytes = (4 * 3 + 3) & ~3
    body = np.frombuffer(bytes(bottom_up[54:]), dtype=np.uint8).reshape(h, row_bytes)
    td = bytes(bottom_up[:54]) + body[::-1].tobytes()
    assert np.array_equal(decode_bmp(td), px)

    # 8-bit paletted BMP, hand-built: 2x2 indices into a 4-color palette
    pal = np.array([[10, 20, 30], [40, 50, 60], [70, 80, 90], [200, 210, 220]], np.uint8)
    idx = np.array([[0, 3], [2, 1]], np.uint8)
    pal_bytes = b"".join(bytes([b, g, r, 0]) for r, g, b in pal)
    rows = b"".join(bytes(idx[y]) + b"\x00\x00" for y in (1, 0))  # bottom-up, pad to 4
    off = 14 + 40 + len(pal_bytes)
    fh = struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
    ih = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, len(rows), 0, 0, 4, 0)
    out = decode_bmp(fh + ih + pal_bytes + rows)
    assert np.array_equal(out, pal[idx])


def test_decode_stats_matches_pixels(spark):
    from gmql_spark.operators.multimodal import decode_stats, synth_image
    import hashlib

    seeds = [f"doc {i}".encode() for i in range(12)]
    expected, rows = {}, []
    for i, s in enumerate(seeds):
        fmt = ("bmp", "ppm", "jpeg")[i % 3]  # mirrors the image_decode gate
        px, payload = synth_image(s, fmt)
        expected[i] = (
            px.shape[1], px.shape[0], px.shape[2] if px.ndim == 3 else 1,
            int(px.astype(np.int64).sum()),
            hashlib.md5(np.ascontiguousarray(px).tobytes()).hexdigest(),
        )
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = decode_stats(df).toPandas().set_index("media_id").sort_index()
    for i in expected:
        r = got.loc[i]
        assert (r.width, r.height, r.channels, r.px_sum, r.px_md5) == expected[i]


def test_image_codec_error_paths():
    """Corrupt or unsupported payloads must raise, never return noise:
    decode_any stubs only UNRECOGNIZED formats, recognized-but-broken
    images stay loud."""
    from gmql_spark.operators.multimodal import decode_any, decode_bmp, decode_image, decode_ppm

    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\nrest")  # real codec (r7), broken body
    with pytest.raises(ValueError):
        decode_bmp(b"BMshort")  # truncated header
    with pytest.raises(ValueError):
        decode_ppm(b"P7\n1 1\n255\n\x00")  # PAM magic unsupported
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n70000\n" + b"\x00" * 24)  # 16-bit maxval
    # recognized magic + malformed body: loud, not stubbed
    with pytest.raises(ValueError):
        decode_any(b"BM" + b"\x00" * 60)
    # unrecognized bytes: deterministic stand-in, no exception
    assert decode_any(b"opaque media bytes").dtype.name == "uint8"


def test_kmeans_train_edge_cases():
    from gmql_spark.operators.similarity import kmeans_train

    with pytest.raises(ValueError):
        kmeans_train(np.zeros((0, 4)), 2)
    # zero-norm rows are dropped before the n >= n_cells check
    X = np.vstack([np.zeros((3, 4)), np.eye(4)[:3]])
    with pytest.raises(ValueError):
        kmeans_train(X, 4)
    cen = kmeans_train(X, 3, seed=1)
    assert cen.shape == (3, 4)
    # unit-norm output rows
    assert np.allclose(np.linalg.norm(cen, axis=1), 1.0)


def test_stream_hist_rollup_matches_batch(spark, tmp_path):
    """Streaming mergeable latency histogram == batch hist_rollup on the
    same files (availableNow, append mode), gap_us precomputed at
    ingest like catalog.write_transcripts(precompute_gaps=True)."""
    from gmql_spark.functions.sketches import hist_rollup
    from gmql_spark.operators.rollup import with_gap_seconds
    from gmql_spark.streaming.rollup_stream import stream_hist_rollup

    raw = with_gap_seconds(
        datagen.transcripts_spark(spark, n_conv=30), key="conv_id", ts="ts"
    ).select("conv_id", "ts", "gap_us")
    src = str(tmp_path / "hist_src")
    _stage_with_null_ts(raw, src, not_null="gap_us")

    stream = spark.readStream.schema(raw.schema).parquet(src)
    out = stream_hist_rollup(stream, tier="1m", watermark="0 seconds")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hist_ckpt"))
        .trigger(availableNow=True)
        .format("memory")
        .queryName("hist_stream")
        .start()
    )
    assert q.awaitTermination(180), "hist stream did not terminate"
    got = spark.sql("select * from hist_stream").toPandas()
    exp = hist_rollup(raw, "1m").toPandas()

    def rows(df):
        return {
            (r.conv_id, pd.Timestamp(r.window_start), pd.Timestamp(r.window_end),
             tuple(sorted(dict(r.lat_hist).items())))
            for r in df.itertuples()
        }

    assert len(got) > 0
    got_rows, exp_rows = rows(got), rows(exp)
    # append mode withholds windows the final watermark (= global max
    # ts at 0s) has not passed: the stream's last partial minute stays
    # in state. Every emitted row must be a batch row, and every batch
    # window that event-time CLOSED must have been emitted.
    assert got_rows <= exp_rows, got_rows - exp_rows
    max_ts = raw.agg(F.max("ts")).collect()[0][0]
    closed = {r for r in exp_rows if r[2] <= pd.Timestamp(max_ts)}
    assert closed <= got_rows, closed - got_rows


def test_stream_hll_rollup_matches_batch(spark, tmp_path):
    """Streaming HLL sketches estimate identically to batch-built ones
    for every event-time-closed window (sketch buffer in the state
    store; register-max merge is order-free)."""
    from gmql_spark.functions.sketches import hll_rollup
    from gmql_spark.streaming.rollup_stream import stream_hll_rollup

    raw = datagen.transcripts_spark(spark, n_conv=25).select("conv_id", "ts", "tool")
    src = str(tmp_path / "hll_src")
    _stage_with_null_ts(raw, src, not_null="tool")

    stream = spark.readStream.schema(raw.schema).parquet(src)
    out = stream_hll_rollup(stream, tier="1h", watermark="0 seconds")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .format("memory")
        .queryName("hll_stream")
        .start()
    )
    assert q.awaitTermination(180), "hll stream did not terminate"
    est = F.hll_sketch_estimate("hll").alias("n_distinct")
    got = {
        (r.conv_id, pd.Timestamp(r.window_start), int(r.n_distinct))
        for r in spark.sql("select * from hll_stream")
        .select("conv_id", "window_start", "window_end", est)
        .collect()
    }
    exp_rows = hll_rollup(raw, "1h", col="tool").select(
        "conv_id", "window_start", "window_end", est
    ).collect()
    exp = {
        (r.conv_id, pd.Timestamp(r.window_start), int(r.n_distinct))
        for r in exp_rows
    }
    max_ts = pd.Timestamp(raw.agg(F.max("ts")).collect()[0][0])
    exp_closed = {
        (r.conv_id, pd.Timestamp(r.window_start), int(r.n_distinct))
        for r in exp_rows
        if pd.Timestamp(r.window_end) <= max_ts
    }
    assert len(got) > 0
    assert got <= exp, got - exp
    assert exp_closed <= got, exp_closed - got
