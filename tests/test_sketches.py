"""Mergeable tier sketches: log₂ latency histograms (exact merge,
bounded-error percentile extraction) and HLL distinct sketches (union ≡
direct build)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.functions.sketches import (
    hist_cascade,
    hist_percentile,
    hist_rollup,
    hll_estimate,
    hll_rollup,
    log2_bucket,
)
from gmql_spark.operators.rollup import exact_percentiles, with_gap_seconds


@pytest.fixture(scope="module")
def gaps(spark):
    raw = datagen.transcripts_spark(spark, n_conv=40)
    return with_gap_seconds(raw)


def _long(df, col="lat_hist"):
    return (
        df.select("conv_id", "window_start", F.explode(col).alias("bucket", "n"))
        .toPandas()
        .sort_values(["conv_id", "window_start", "bucket"])
        .reset_index(drop=True)
    )


def test_log2_bucket_integer_exact(spark):
    vals = [0, 1, 2, 3, 4, 7, 8, 1023, 1024, 2**40 - 1, 2**40, 2**62]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = [r.b for r in df.select(log2_bucket(F.col("x")).alias("b")).collect()]
    exp = [-1 if v == 0 else v.bit_length() - 1 for v in vals]
    assert got == exp


def test_hist_merge_is_exact(spark, gaps):
    """1m histograms merged to 1h == 1h histograms built from raw."""
    m1 = hist_rollup(gaps, "1m")
    merged = hist_cascade(m1, "1h")
    direct = hist_rollup(gaps, "1h")
    pd.testing.assert_frame_equal(_long(merged), _long(direct))


def test_hist_merge_to_day_is_exact(spark, gaps):
    merged = hist_cascade(hist_cascade(hist_rollup(gaps, "1m"), "1h"), "1d")
    direct = hist_rollup(gaps, "1d")
    pd.testing.assert_frame_equal(_long(merged), _long(direct))


def test_hist_percentile_error_bound(spark, gaps):
    """Percentiles extracted from the merged histogram land in the same
    log₂ bucket as the exact order statistic at the histogram's rank
    convention (rank ⌈q·n⌉) — i.e. within 2× — and are monotone in q."""
    hist = hist_cascade(hist_rollup(gaps, "1m", keys=["conv_id"]), "1d").filter(
        F.size("lat_hist") > 0
    )
    approx = hist.select(
        "conv_id",
        "window_start",
        hist_percentile(F.col("lat_hist"), 0.5).alias("a50"),
        hist_percentile(F.col("lat_hist"), 0.95).alias("a95"),
        hist_percentile(F.col("lat_hist"), 0.99).alias("a99"),
    ).toPandas()
    assert (approx.a50 <= approx.a95).all() and (approx.a95 <= approx.a99).all()

    raw = (
        gaps.filter(F.col("gap_us").isNotNull())
        .select(
            "conv_id",
            F.window("ts", "1 day")["start"].alias("window_start"),
            "gap_us",
        )
        .toPandas()
    )

    def order_stat(s, q):
        v = sorted(s)
        return v[max(0, math.ceil(q * len(v)) - 1)]

    exact = (
        raw.groupby(["conv_id", "window_start"])["gap_us"]
        .agg(
            e50=lambda s: order_stat(s, 0.5),
            e95=lambda s: order_stat(s, 0.95),
            e99=lambda s: order_stat(s, 0.99),
        )
        .reset_index()
    )
    j = approx.merge(exact, on=["conv_id", "window_start"], how="inner")
    assert len(j) > 0
    for a, e in (("a50", "e50"), ("a95", "e95"), ("a99", "e99")):
        av, ev = j[a], j[e].astype("float64")
        # exact zeros extract as exactly 0.0
        assert (av[ev == 0] == 0).all()
        mask = ev > 0
        ratio = av[mask] / ev[mask]
        assert ratio.gt(0.5).all() and ratio.lt(2.0).all(), (
            f"{a}: worst ratio {ratio.min()}..{ratio.max()}"
        )


def test_hist_percentile_zero_bucket(spark):
    """All-zero gaps live in bucket −1 and extract as exactly 0.0; a
    single-bucket histogram interpolates inside [2^b, 2^(b+1))."""
    df = spark.createDataFrame(
        [({-1: 10},), ({5: 4},)], "h map<int,bigint>"
    )
    got = [r.p for r in df.select(hist_percentile(F.col("h"), 0.5).alias("p")).collect()]
    assert got[0] == 0.0
    assert 32.0 <= got[1] < 64.0


def test_hll_estimate_accuracy(spark):
    """At lgK=12 the HLL estimate of a small exact-mode set is exact,
    and a 100k-distinct column lands within ~2%."""
    df = spark.range(100_000).select(F.concat(F.lit("u"), F.col("id")).alias("u"))
    est = df.agg(hll_estimate(F.hll_sketch_agg("u", F.lit(12))).alias("e")).collect()[0].e
    assert math.isclose(est, 100_000, rel_tol=0.02)


def test_tier_pipeline_with_sketches(spark, gaps):
    """rollup_all_tiers(with_sketches=True): every tier carries lat_hist
    + tool_hll; the 1d sketches (built by two cascaded merges) equal the
    sketches built directly from raw at 1d grain."""
    from gmql_spark.operators.rollup import rollup_all_tiers

    tiers = rollup_all_tiers(gaps, with_sketches=True)
    for t in ("1m", "1h", "1d"):
        assert {"lat_hist", "tool_hll"} <= set(tiers[t].columns)

    got_hist = _long(tiers["1d"].select("conv_id", "window_start", "lat_hist"))
    exp_hist = _long(hist_rollup(gaps, "1d"))
    pd.testing.assert_frame_equal(got_hist, exp_hist)

    got_hll = (
        tiers["1d"]
        .filter(F.col("tool_hll").isNotNull())
        .select("conv_id", "window_start", hll_estimate(F.col("tool_hll")).alias("est"))
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    exp_hll = (
        hll_rollup(gaps, "1d", col="tool", keys=["conv_id"])
        .select("conv_id", "window_start", hll_estimate(F.col("hll")).alias("est"))
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_hll, exp_hll)

    # the sketch columns don't perturb the exact stats: same frame as
    # the plain pipeline once sketches are dropped
    plain = rollup_all_tiers(gaps)
    a = tiers["1h"].drop("lat_hist", "tool_hll").toPandas()
    b = plain["1h"].toPandas()
    key = ["conv_id", "window_start"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])
