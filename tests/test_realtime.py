"""Real-time continuous aggregates: stale materialized tiers + raw tail
must equal the one-shot rollup exactly, and the refresh watermark that
drives the routing must be recorded/advanced correctly."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.incremental import append_transcripts, refresh_tiers
from gmql_spark.operators.rollup import PCT_NAMES, rollup
from gmql_spark.realtime import (
    floor_to_tier,
    read_refresh_watermark,
    realtime_rollup,
    serve_realtime,
)
from tests.conftest import assert_pdf_equal

FLOATS = (*PCT_NAMES, "latency_sum_us")


@pytest.fixture(scope="module")
def split_data(spark):
    raw = datagen.transcripts_spark(spark, n_conv=40)
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut = lo + (hi - lo) / 2
    b1 = raw.filter(F.col("ts") <= F.lit(cut))
    b2 = raw.filter(F.col("ts") > F.lit(cut))
    assert b1.count() > 0 and b2.count() > 0
    return raw, b1, b2


def _pdf(df, keys=("conv_id", "window_start")):
    return df.toPandas().sort_values(list(keys)).reset_index(drop=True)


def test_floor_to_tier():
    t = dt.datetime(2024, 1, 21, 0, 30, 17)
    assert floor_to_tier(t, "1h") == dt.datetime(2024, 1, 21, 0, 0)
    assert floor_to_tier(t, "1m") == dt.datetime(2024, 1, 21, 0, 30)
    assert floor_to_tier(t, "1d") == dt.datetime(2024, 1, 21)
    # grid-aligned input is its own floor
    assert floor_to_tier(dt.datetime(2024, 1, 21, 5), "1h") == dt.datetime(
        2024, 1, 21, 5
    )


def test_added_tier_is_on_the_window_grid(spark, monkeypatch):
    """A tier added to ``TIER_DURATION`` steps on ``F.window``'s grid
    wherever the engine steps tiers — ``floor_to_tier``/``ceil_to_tier``,
    the tier builder and ``gapfill`` — pre-1970 and grid-edge times
    included."""
    from gmql_spark.operators.gapfill import gapfill
    from gmql_spark.operators.window_agg import TIER_DURATION, window_rollup
    from gmql_spark.realtime import ceil_to_tier

    monkeypatch.setitem(TIER_DURATION, "5m", "5 minutes")
    step = dt.timedelta(minutes=5)
    times = [
        dt.datetime(1969, 12, 31, 23, 37, 30, 500000),
        dt.datetime(1969, 12, 31, 23, 55),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.datetime(1970, 1, 1),
        dt.datetime(1970, 1, 1, 0, 4, 59, 999999),
        dt.datetime(1970, 1, 1, 0, 20, 0, 1),
    ]
    raw = spark.createDataFrame(
        [("c", i, t, "user", None) for i, t in enumerate(times)],
        "conv_id string, turn_idx int, ts timestamp, role string, tool string",
    )
    starts = [
        r.w.start
        for r in raw.select("turn_idx", F.window("ts", "5 minutes").alias("w"))
        .orderBy("turn_idx")
        .collect()
    ]
    assert [floor_to_tier(t, "5m") for t in times] == starts
    assert [ceil_to_tier(t, "5m") for t in times] == [
        s if s == t else s + step for s, t in zip(starts, times)
    ]

    counts = window_rollup(
        raw, "5 minutes", [F.count(F.lit(1)).alias("turn_count")], keys=["conv_id"]
    )
    expected = {r.window_start: r.turn_count for r in counts.collect()}
    built = rollup(raw, "5m").select("window_start", "turn_count").collect()
    assert {r.window_start: r.turn_count for r in built} == expected

    filled = gapfill(counts, tier="5m", interp_col=None).orderBy("window_start").collect()
    grid = [starts[0] + k * step for k in range((starts[-1] - starts[0]) // step + 1)]
    assert [r.window_start for r in filled] == grid
    assert {r.window_start: r.turn_count for r in filled} == {
        w: expected.get(w, 0) for w in grid
    }
    assert [r.is_gap for r in filled] == [w not in expected for w in grid]


def test_realtime_serves_sketch_columns(spark, tmp_path, split_data):
    """Over tiers refreshed with sketches, ``realtime_rollup`` serves the
    table's sketch columns, the stale tail's recomputed in the same
    mode: ``lat_hist`` equal to the one-shot rollup's, ``tool_hll`` by
    estimate."""
    raw, b1, b2 = split_data
    fact, out = str(tmp_path / "fact_sk"), str(tmp_path / "tiers_sk")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1, with_sketches=True)
    append_transcripts(spark, b2, fact, n_buckets=4)  # no refresh

    def sketches(df):
        return _pdf(df.select(
            "conv_id", "window_start", "lat_hist",
            F.hll_sketch_estimate("tool_hll").alias("tools"),
        ))

    got = sketches(realtime_rollup(spark, fact, out, tier="1h"))
    exp = sketches(rollup(raw, "1h", with_sketches=True))
    assert_pdf_equal(got, exp, ["conv_id", "window_start"])


def test_refresh_records_watermark(spark, tmp_path, split_data):
    _, b1, b2 = split_data
    fact, out = str(tmp_path / "fact"), str(tmp_path / "tiers")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    res = refresh_tiers(spark, fact, out, dates=d1)
    exp = b1.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    assert res["watermark_us"] == exp
    assert read_refresh_watermark(out) == exp
    # appending + refreshing later data advances it monotonically
    d2 = append_transcripts(spark, b2, fact, n_buckets=4)
    res2 = refresh_tiers(spark, fact, out, dates=d2)
    assert res2["watermark_us"] > exp
    assert read_refresh_watermark(out) == res2["watermark_us"]


def test_realtime_exact_with_stale_tiers(spark, tmp_path, split_data):
    """Append batch 2 WITHOUT refreshing: the tiers are stale, the
    realtime query (tier rows + raw tail past the recorded watermark)
    must still equal the one-shot rollup bit-for-bit."""
    raw, b1, b2 = split_data
    fact, out = str(tmp_path / "fact_rt"), str(tmp_path / "tiers_rt")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    append_transcripts(spark, b2, fact, n_buckets=4)  # no refresh

    for tier in ("1m", "1h"):
        got = _pdf(realtime_rollup(spark, fact, out, tier=tier))
        exp = _pdf(rollup(raw, tier))
        assert_pdf_equal(
            got, exp[got.columns], ["conv_id", "window_start"], float_cols=FLOATS
        )
        # and the tier actually served rows (the routing isn't a full
        # recompute in disguise)
        wm = read_refresh_watermark(out)
        frozen = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=wm)
        n_served = (
            spark.read.parquet(f"{out}/rollup_{tier}")
            .filter(F.col("window_end") <= F.lit(frozen))
            .count()
        )
        assert n_served > 0
        n_total = len(got)
        assert n_served < n_total  # tail contributed too


def test_realtime_job_budget(spark, tmp_path, split_data):
    """A realtime query opens the tier table with its footer schema and
    reads only the fact leaves of the tail's event dates, with the
    schema from a footer: no schema-inference job on either table.
    Measured: ``count()`` runs 3 jobs (5 with both tables opened whole,
    each with a schema-inference job)."""
    from tests.conftest import spark_jobs

    raw, b1, b2 = split_data
    fact, out = str(tmp_path / "fact_jobs"), str(tmp_path / "tiers_jobs")
    refresh_tiers(spark, fact, out, dates=append_transcripts(spark, b1, fact, n_buckets=4))
    append_transcripts(spark, b2, fact, n_buckets=4)  # no refresh
    res = {}
    assert spark_jobs(
        spark, lambda: res.update(n=realtime_rollup(spark, fact, out, tier="1h").count())
    ) <= 3
    assert res["n"] == rollup(raw, "1h").count()


def test_realtime_fresh_tiers_grid_aligned_boundary(spark, tmp_path, split_data):
    """Fully refreshed tiers + a frozen boundary exactly on the window
    grid: no window may be double-served or dropped."""
    raw, b1, b2 = split_data
    fact, out = str(tmp_path / "fact_g"), str(tmp_path / "tiers_g")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    d2 = append_transcripts(spark, b2, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d2)

    wm = read_refresh_watermark(out)
    frozen = floor_to_tier(
        dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=wm), "1h"
    )
    got_df = realtime_rollup(spark, fact, out, tier="1h", frozen_until=frozen)
    # each (conv, window) exactly once
    dup = got_df.groupBy("conv_id", "window_start").count().filter("count > 1")
    assert dup.count() == 0
    got = _pdf(got_df)
    exp = _pdf(rollup(raw, "1h"))
    assert_pdf_equal(
        got, exp[got.columns], ["conv_id", "window_start"], float_cols=FLOATS
    )


def test_realtime_requires_watermark(spark, tmp_path, split_data):
    _, b1, _ = split_data
    fact, out = str(tmp_path / "fact_w"), str(tmp_path / "tiers_w")
    append_transcripts(spark, b1, fact, n_buckets=2)
    with pytest.raises(ValueError, match="watermark"):
        realtime_rollup(spark, fact, out, tier="1h")


def test_serve_realtime_tail_filter_prunes(spark, tmp_path, split_data):
    """The tail read is a plain ts >= literal — it must reach the scan
    as a pushed filter over the bucketed fact table."""
    _, b1, _ = split_data
    fact, out = str(tmp_path / "fact_p"), str(tmp_path / "tiers_p")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    wm = read_refresh_watermark(out)
    frozen = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=wm)
    boundary = floor_to_tier(frozen, "1h")
    tail = spark.read.parquet(fact).filter(F.col("ts") >= F.lit(boundary))
    plan = tail._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(ts" in plan


# ------------------------------------------------- multi-tier stitch

import datetime as _dt

from hypothesis import given, settings
from hypothesis import strategies as st

from gmql_spark.realtime import ceil_to_tier, decompose_range, stitch_range

_EPOCH = _dt.datetime(2024, 1, 1)
_ts_strategy = st.integers(min_value=0, max_value=40 * 86400).map(
    lambda s: _EPOCH + _dt.timedelta(seconds=s)
)
_GRAIN = {"raw": 1, "1m": 60, "1h": 3600, "1d": 86400}


@given(a=_ts_strategy, b=_ts_strategy)
@settings(max_examples=300, deadline=None)
def test_decompose_range_partitions_exactly(a, b):
    start, end = min(a, b), max(a, b)
    segs = decompose_range(start, end)
    if start == end:
        assert segs == []
        return
    # exact partition of [start, end), in order
    assert segs[0][1] == start and segs[-1][2] == end
    for (_, _, e0), (_, s1, _) in zip(segs, segs[1:]):
        assert e0 == s1
    assert len(segs) <= 7
    for tier, s, e in segs:
        assert s < e
        step = _GRAIN[tier]
        if tier != "raw":
            # tier segments aligned to their grain on both ends
            assert int((s - _EPOCH).total_seconds()) % step == 0
            assert int((e - _EPOCH).total_seconds()) % step == 0
        else:
            # raw edges never span a full minute unnecessarily
            assert (e - s).total_seconds() <= 120


@given(a=_ts_strategy)
@settings(max_examples=50, deadline=None)
def test_decompose_aligned_day_range_is_one_segment(a):
    s = _dt.datetime(2024, 1, 10)
    segs = decompose_range(s, s + _dt.timedelta(days=3))
    assert segs == [("1d", s, s + _dt.timedelta(days=3))]


def test_ceil_to_tier():
    assert ceil_to_tier(_dt.datetime(2024, 1, 1, 0, 0, 1), "1m") == _dt.datetime(
        2024, 1, 1, 0, 1
    )
    assert ceil_to_tier(_dt.datetime(2024, 1, 1, 0, 1), "1m") == _dt.datetime(
        2024, 1, 1, 0, 1
    )


@pytest.mark.parametrize(
    "start,end",
    [
        (_dt.datetime(2024, 1, 3, 7, 41, 17), _dt.datetime(2024, 1, 29, 21, 5, 3)),
        (_dt.datetime(2024, 1, 5), _dt.datetime(2024, 1, 9)),  # aligned days
        (_dt.datetime(2024, 1, 5, 3, 0, 10), _dt.datetime(2024, 1, 5, 3, 0, 50)),  # sub-minute
        (_dt.datetime(2024, 1, 5, 3, 10), _dt.datetime(2024, 1, 5, 17, 20)),  # same day
    ],
)
def test_stitch_range_equals_direct(spark, split_data, start, end):
    """Stitched tier aggregate over a misaligned range == direct raw
    aggregate over the same range, for every decomposition shape."""
    from gmql_spark.operators.window_agg import window_rollup

    raw, _, _ = split_data
    # shift the synthetic span onto the requested window: datagen spans
    # its own dates, so re-anchor raw into Jan 2024
    lo = raw.agg(F.min("ts")).collect()[0][0]
    anchor = _dt.datetime(2024, 1, 1)
    shifted = raw.withColumn(
        "ts", F.timestamp_micros(
            F.unix_micros("ts") - F.lit(int((lo - anchor).total_seconds()) * 1_000_000)
        )
    )

    n = [F.count(F.lit(1)).alias("n")]
    m1 = window_rollup(shifted, "1 minute", aggs=n, keys=["conv_id"])
    merge = [F.sum("n").alias("n")]
    h1 = window_rollup(m1, "1 hour", aggs=merge, keys=["conv_id"], ts="window_start")
    d1 = window_rollup(h1, "1 day", aggs=merge, keys=["conv_id"], ts="window_start")
    got = stitch_range(
        {"1m": m1, "1h": h1, "1d": d1},
        shifted,
        start,
        end,
        keys=["conv_id"],
        raw_aggs=n,
        merge_aggs=[F.sum("n").alias("n")],
    ).toPandas().sort_values("conv_id").reset_index(drop=True)
    exp = (
        shifted.filter((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end)))
        .groupBy("conv_id")
        .agg(*n)
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp)


def test_stitch_transcripts_materialized(spark, tmp_path, split_data):
    """stitch_transcripts over materialized tiers == one-pass aggregate
    of fact rows in range (ingest-time gap attribution on both sides);
    also runs via the GSL STITCH statement."""
    from gmql_spark.plans.dsl import compile_script
    from gmql_spark.realtime import stitch_transcripts

    raw, b1, b2 = split_data
    fact, out = str(tmp_path / "fact_st"), str(tmp_path / "tiers_st")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    d2 = append_transcripts(spark, b2, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d2)

    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    start = (lo + dt.timedelta(hours=3)).replace(second=17, microsecond=0)
    end = (hi - dt.timedelta(hours=5)).replace(second=43, microsecond=0)

    got = (
        stitch_transcripts(spark, fact, out, start, end)
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    fact_rows = spark.read.parquet(fact).filter(
        (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
    )
    exp = (
        fact_rows.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.count("gap_us").alias("latency_cnt"),
            F.sum("gap_us").alias("latency_sum_us"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp[got.columns])

    script = (
        f"S = STITCH(fact: '{fact}', tiers: '{out}', "
        f"start: '{start.isoformat()}', end: '{end.isoformat()}'); MATERIALIZE S;"
    )
    via_gsl = (
        compile_script(spark, script, tables={}).materialized["S"]
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(via_gsl, got)


def test_stitch_range_empty_and_tiny(spark, split_data):
    """start == end yields zero rows; a range inside one minute hits the
    raw-only path."""
    raw, _, _ = split_data
    t0 = raw.agg(F.min("ts")).collect()[0][0]
    n = [F.count(F.lit(1)).alias("n")]
    out = stitch_range({}, raw, t0, t0, keys=["conv_id"], raw_aggs=n, merge_aggs=n)
    assert out.count() == 0
    segs = decompose_range(t0, t0)
    assert segs == []


# --------------------------------------- watermark soundness (round 4)


def test_realtime_exact_with_late_new_conversation(spark, tmp_path, split_data):
    """A conversation appended AFTER the refresh whose rows lie below
    the refresh-time max event ts (per-conversation ordering allows
    this: it's a brand-new conv). The naive watermark (refresh max)
    would drop its early rows from both branches; the pending-append
    clamp must keep the query exact."""
    from gmql_spark.incremental import pending_append_min_us
    from gmql_spark.realtime import read_refresh_manifest

    raw, _, _ = split_data
    held = raw.select("conv_id").distinct().orderBy("conv_id").limit(1)
    held_id = held.collect()[0][0]
    b_main = raw.filter(F.col("conv_id") != held_id)
    b_late = raw.filter(F.col("conv_id") == held_id)
    fact, out = str(tmp_path / "fact_late"), str(tmp_path / "tiers_late")

    d1 = append_transcripts(spark, b_main, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    wm_naive = read_refresh_watermark(out)
    append_transcripts(spark, b_late, fact, n_buckets=4)  # no refresh

    late_min = b_late.agg(F.min(F.unix_micros("ts"))).collect()[0][0]
    assert late_min < wm_naive, "fixture must exercise the unsound case"
    man = read_refresh_manifest(out)
    assert pending_append_min_us(fact, man) == late_min

    for tier in ("1m", "1h"):
        got = _pdf(realtime_rollup(spark, fact, out, tier=tier))
        exp = _pdf(rollup(raw, tier))
        assert_pdf_equal(
            got, exp[got.columns], ["conv_id", "window_start"], float_cols=FLOATS
        )


def test_pending_clamp_releases_after_refresh(spark, tmp_path, split_data):
    """After the late batch IS refreshed, the clamp clears (no pending
    appends past the covered version) and the tier serves again."""
    from gmql_spark.incremental import pending_append_min_us
    from gmql_spark.realtime import read_refresh_manifest

    raw, _, _ = split_data
    held_id = raw.select("conv_id").distinct().orderBy("conv_id").limit(1).collect()[0][0]
    fact, out = str(tmp_path / "fact_rel"), str(tmp_path / "tiers_rel")
    d1 = append_transcripts(spark, raw.filter(F.col("conv_id") != held_id), fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    d2 = append_transcripts(spark, raw.filter(F.col("conv_id") == held_id), fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d2)

    man = read_refresh_manifest(out)
    assert pending_append_min_us(fact, man) is None
    got = _pdf(realtime_rollup(spark, fact, out, tier="1h"))
    exp = _pdf(rollup(raw, "1h"))
    assert_pdf_equal(
        got, exp[got.columns], ["conv_id", "window_start"], float_cols=FLOATS
    )


def test_partial_date_refresh_keeps_clamp(spark, tmp_path, split_data):
    """An append touching TWO dates, followed by a refresh of only ONE
    of them, must stay pending (per-date coverage): clearing the clamp
    on a single global covered version would silently drop the
    unrefreshed date's rows from realtime serving."""
    from gmql_spark.incremental import pending_append_min_us
    from gmql_spark.realtime import read_refresh_manifest

    raw, _, _ = split_data
    fact, out = str(tmp_path / "fact_pd"), str(tmp_path / "tiers_pd")
    d1 = append_transcripts(spark, raw, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)

    # late batch: a NEW conversation with rows on two distinct dates,
    # both below the recorded watermark
    lo = raw.agg(F.min("ts")).collect()[0][0]
    t_a = lo + dt.timedelta(hours=1)
    t_b = t_a + dt.timedelta(days=1)
    template = raw.limit(1).collect()[0].asDict()
    rows = []
    for i, t in enumerate((t_a, t_b)):
        r = dict(template)
        r.update(conv_id="convLATE", turn_idx=i, ts=t)
        rows.append(tuple(r[c] for c in raw.columns))
    late = spark.createDataFrame(rows, raw.schema)
    d2 = append_transcripts(spark, late, fact, n_buckets=4)
    assert len(d2) == 2

    # refresh ONE of the two touched dates only
    refresh_tiers(spark, fact, out, dates=[d2[0]])
    man = read_refresh_manifest(out)
    pend = pending_append_min_us(fact, man)
    late_min = late.agg(F.min(F.unix_micros("ts"))).collect()[0][0]
    assert pend == late_min, "partially refreshed append must stay pending"

    # and realtime stays exact (tail recomputes from the clamp)
    full = raw.unionByName(late)
    got = _pdf(realtime_rollup(spark, fact, out, tier="1h"))
    exp = _pdf(rollup(full, "1h"))
    assert_pdf_equal(
        got, exp[got.columns], ["conv_id", "window_start"], float_cols=FLOATS
    )

    # refreshing the second date clears it
    refresh_tiers(spark, fact, out, dates=[d2[1]])
    man2 = read_refresh_manifest(out)
    assert pending_append_min_us(fact, man2) is None


def test_stitch_realtime_exact_with_stale_tiers(spark, tmp_path, split_data):
    """stitch over STALE tiers: the default mode trusts tier rows and
    silently misses un-refreshed appends; realtime=True answers the
    range past the (pending-clamped) watermark from raw and stays
    exact."""
    from gmql_spark.realtime import stitch_transcripts

    raw, b1, b2 = split_data
    fact, out = str(tmp_path / "fact_sr"), str(tmp_path / "tiers_sr")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    append_transcripts(spark, b2, fact, n_buckets=4)  # no refresh

    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    start = (lo + dt.timedelta(hours=2)).replace(second=11, microsecond=0)
    end = (hi - dt.timedelta(minutes=7)).replace(second=43, microsecond=0)

    def pdf(df):
        return df.toPandas().sort_values("conv_id").reset_index(drop=True)

    exp = pdf(
        spark.read.parquet(fact)
        .filter((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end)))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.count("gap_us").alias("latency_cnt"),
            F.sum("gap_us").alias("latency_sum_us"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )
    got_rt = pdf(stitch_transcripts(spark, fact, out, start, end, realtime=True))
    import pandas as pd

    pd.testing.assert_frame_equal(got_rt, exp[got_rt.columns])

    # the trusting default really is wrong on stale tiers (fewer turns)
    got_stale = pdf(stitch_transcripts(spark, fact, out, start, end))
    assert got_stale["turn_count"].sum() < exp["turn_count"].sum()


def test_building_queries_runs_no_jobs(spark, tmp_path, split_data, monkeypatch):
    """Building a query over the engine's tables runs no Spark job: the
    table layer opens each table's leaves with a footer schema, without
    an inference or listing job. ``stitch_transcripts`` (trusting and
    realtime), ``read_transcripts`` and a GSL ``LOAD`` ran 4, 4, 1 and 1
    jobs with whole-table opens. The trusting stitch reads only the
    fact leaves of its raw segments' dates, here the range's two ends."""
    from pyspark.sql.readwriter import DataFrameReader

    from gmql_spark.plans.dsl import compile_script
    from gmql_spark.realtime import stitch_transcripts
    from gmql_spark.sources.catalog import read_transcripts
    from tests.conftest import spark_jobs

    raw, b1, b2 = split_data
    fact, out = str(tmp_path / "fact_nj"), str(tmp_path / "tiers_nj")
    refresh_tiers(spark, fact, out, dates=append_transcripts(spark, b1, fact, n_buckets=4))
    append_transcripts(spark, b2, fact, n_buckets=4)  # no refresh
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    start = (lo + dt.timedelta(hours=2)).replace(second=11, microsecond=0)
    end = (hi - dt.timedelta(minutes=7)).replace(second=43, microsecond=0)

    reads = []
    real_parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **kw):
        reads.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    for realtime in (False, True):
        assert spark_jobs(
            spark,
            lambda: stitch_transcripts(spark, fact, out, start, end, realtime=realtime),
        ) == 0
    reads.clear()
    stitch_transcripts(spark, fact, out, start, end)
    dates = {p.split("event_date=")[1] for p in reads if p.startswith(fact)}
    assert dates == {str(start.date()), str(end.date())}, reads
    assert spark_jobs(spark, lambda: read_transcripts(spark, fact)) == 0
    assert spark_jobs(
        spark, lambda: compile_script(spark, f"T = LOAD '{fact}'; MATERIALIZE T;")
    ) == 0


def test_stitch_reads_only_its_dates_leaves(spark, tmp_path, monkeypatch):
    """A stitch lists only the tier and fact leaves of the dates its
    segments cover: over a 2-date and a 120-date table the same 2-date
    range lists the same leaves and runs the same number of jobs, with
    rows equal to the one-pass aggregate of the fact rows in range."""
    import os
    from functools import reduce

    import pandas as pd
    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    from gmql_spark.realtime import stitch_transcripts
    from tests.conftest import spark_jobs

    raw = datagen.transcripts_spark(spark, n_conv=40)
    d1 = raw.groupBy(F.to_date("ts").alias("d")).count().orderBy(F.desc("count")).first()[0]
    short = raw.filter(F.to_date("ts").between(d1, d1 + dt.timedelta(days=1)))
    # 59 copies of the 2 dates, two days apart each: 120 dates in all
    copies = [
        short.withColumn("conv_id", F.concat("conv_id", F.lit(f"_{k}")))
        .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {2 * k} DAYS"))
        for k in range(1, 60)
    ]
    tables = {}
    for name, df in (("short", short), ("long", reduce(DataFrame.unionByName, copies, short))):
        fact, out = str(tmp_path / f"fact_{name}"), str(tmp_path / f"tiers_{name}")
        refresh_tiers(spark, fact, out, dates=append_transcripts(spark, df, fact, n_buckets=2))
        tables[name] = fact, out
    assert len(os.listdir(f"{tables['long'][1]}/rollup_1h")) == 120
    start = dt.datetime.combine(d1, dt.time(3, 0, 17))
    end = dt.datetime.combine(d1 + dt.timedelta(days=1), dt.time(20, 0, 43))

    reads = []
    real_parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **kw):
        reads.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    listed, jobs, got = {}, {}, {}
    for name, (fact, out) in tables.items():
        reads.clear()
        jobs[name] = spark_jobs(
            spark,
            lambda: got.update(
                {name: _pdf(stitch_transcripts(spark, fact, out, start, end), ["conv_id"])}
            ),
        )
        listed[name] = sorted(os.path.relpath(p, tmp_path).replace(name, "") for p in reads)
    monkeypatch.undo()
    assert listed["short"] == listed["long"], listed
    assert jobs["short"] == jobs["long"], jobs
    fact_rows = spark.read.parquet(tables["short"][0]).filter(
        (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
    )
    exp = _pdf(
        fact_rows.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.count("gap_us").alias("latency_cnt"),
            F.sum("gap_us").alias("latency_sum_us"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        ),
        ["conv_id"],
    )
    pd.testing.assert_frame_equal(got["short"], exp[got["short"].columns])
    pd.testing.assert_frame_equal(got["long"], got["short"])
