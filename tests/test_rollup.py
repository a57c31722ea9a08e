"""Rollup tiers vs the pandas oracle — the per-tier point-match gate
(BASELINE.md: 100% exact match at raw→1m→1h→1d)."""

from __future__ import annotations

import pytest

from gmql_spark import datagen
from gmql_spark.operators.rollup import PCT_NAMES, rollup, rollup_all_tiers
from gmql_spark.oracle.rollup import oracle_rollup
from tests.conftest import assert_pdf_equal

FLOATS = (*PCT_NAMES, "latency_sum_us")


@pytest.fixture(scope="module")
def data(spark):
    pdf = datagen.gen_transcripts(n_conv=120)
    sdf = datagen.transcripts_spark(spark, n_conv=120)
    return pdf, sdf


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_direct_rollup_matches_oracle(data, tier):
    pdf, sdf = data
    got = rollup(sdf, tier).toPandas()
    exp = oracle_rollup(pdf, tier)
    assert_pdf_equal(got, exp, ["conv_id", "window_start"], float_cols=FLOATS)


def test_tier_cascade_matches_direct_and_oracle(data):
    """1h/1d built by cascading 1m (mergeable stats) + exact-from-raw
    percentiles must equal both the direct rollup and the oracle."""
    pdf, sdf = data
    tiers = rollup_all_tiers(sdf)
    for tier in ("1h", "1d"):
        got = tiers[tier].toPandas()
        exp = oracle_rollup(pdf, tier)
        assert_pdf_equal(got, exp, ["conv_id", "window_start"], float_cols=FLOATS)


def test_exact_percentiles_matches_oracle_formula(data):
    """exact_percentiles (rank+lerp hash-agg plan) is bit-identical to
    the oracle's weighted lerp and plans no ObjectHashAggregate."""
    import numpy as np

    from gmql_spark.operators.rollup import exact_percentiles, with_gap_seconds
    from gmql_spark.oracle.rollup import _pct_plain_lerp
    from gmql_spark.plans.inspect import assert_no_object_agg

    pdf, sdf = data
    g = with_gap_seconds(sdf)
    out = exact_percentiles(g, keys=["conv_id"], value="gap_s")
    assert_no_object_agg(out)
    got = out.toPandas().sort_values("conv_id").reset_index(drop=True)

    p = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").copy()
    gaps_us = p.groupby("conv_id")["ts"].diff().dt.total_seconds() * 1e6
    p["gap_s"] = gaps_us.round().astype("float64") / 1e6
    exp_rows = []
    for cid, grp in p.groupby("conv_id"):
        vals = np.sort(grp["gap_s"].dropna().to_numpy())
        exp_rows.append(
            {
                "conv_id": cid,
                "latency_p50": _pct_plain_lerp(vals, 0.50),
                "latency_p95": _pct_plain_lerp(vals, 0.95),
                "latency_p99": _pct_plain_lerp(vals, 0.99),
            }
        )
    import pandas as pd

    exp = pd.DataFrame(exp_rows).sort_values("conv_id").reset_index(drop=True)
    assert_pdf_equal(got, exp, ["conv_id"], float_cols=PCT_NAMES)


def test_generic_counts_map_path(data):
    """counts_map without a known category list (HOF fold) must equal the
    count_if fast path."""
    pdf, sdf = data
    fast = rollup(sdf, "1h", role_values=list(datagen.ROLES), tool_values=list(datagen.TOOL_NAMES))
    generic = rollup(sdf, "1h")
    a = fast.select("conv_id", "window_start", "role_counts", "tool_counts").toPandas()
    b = generic.select("conv_id", "window_start", "role_counts", "tool_counts").toPandas()
    assert_pdf_equal(a, b, ["conv_id", "window_start"])


def test_fused_rollup_equals_join_formulation(spark):
    """Fusion: the single-aggregate rollup (rank window over every
    turn, nulls last + mergeables + percentile interpolation in one
    pass) must equal the two-pass formulation (main agg ⨝
    exact_percentiles over the null-filtered gaps at (conv_id,
    window_start) grain) bit-for-bit, including windows with 0 non-null
    gaps (only the conversation's null first gap), with 1 gap, and with
    a null gap next to non-null ones."""
    import numpy as np
    from pyspark.sql import functions as F

    from gmql_spark.datagen import ROLES, transcripts_spark
    from gmql_spark.functions.aggregates import counts_map
    from gmql_spark.operators.rollup import exact_percentiles, with_gap_seconds

    raw = transcripts_spark(spark, n_conv=40)
    raw_g = with_gap_seconds(raw).select(
        "conv_id", "ts", "role", "tool", "gap_us", "gap_s"
    )
    fused = rollup(raw_g, "1h", with_gaps=False, role_values=list(ROLES)).toPandas()

    win = F.window("ts", "1 hour")
    agged = raw_g.groupBy("conv_id", win.alias("w")).agg(
        F.count(F.lit(1)).alias("turn_count"),
        counts_map(F.col("role"), list(ROLES)).alias("role_counts"),
        counts_map(F.col("tool"), None).alias("tool_counts"),
        F.count("gap_s").alias("latency_cnt"),
        F.sum("gap_us").alias("latency_sum_us"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    main = agged.select(
        "conv_id",
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in agged.columns if c not in ("conv_id", "w")],
    )
    pct = exact_percentiles(
        raw_g.withColumn("window_start", win.start),
        ["conv_id", "window_start"],
        "gap_s",
    )
    old = main.join(pct, on=["conv_id", "window_start"], how="left").select(
        *[c for c in fused.columns]
    ).toPandas()

    fused = fused.sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    old = old.sort_values(["conv_id", "window_start"]).reset_index(drop=True)
    assert len(fused) == len(old) > 0
    cnt, turns = fused["latency_cnt"], fused["turn_count"]
    assert (cnt == 0).any(), "no window whose only gap is null"
    assert fused.loc[cnt == 0, "latency_p50"].isna().all()
    assert (cnt == 1).any(), "no window with exactly one gap"
    assert ((cnt > 0) & (turns > cnt)).any(), "no window mixing null and non-null gaps"
    for c in fused.columns:
        if c in PCT_NAMES:
            a, b = fused[c].to_numpy(), old[c].to_numpy()
            same = (a == b) | (np.isnan(a.astype(float)) & np.isnan(b.astype(float)))
            assert same.all(), c
        elif c in ("role_counts", "tool_counts"):
            assert all(dict(x) == dict(y) for x, y in zip(fused[c], old[c])), c
        else:
            eq = fused[c].eq(old[c]) | (fused[c].isna() & old[c].isna())
            assert eq.all(), c


def test_fused_cascade_maps_equal_generic(spark):
    from pyspark.sql import functions as F  # noqa: F401

    """r8: cascade_rollup with known category domains (fused in-agg map
    merge) must equal the generic explode-path cascade, entry order
    included."""
    from gmql_spark.datagen import ROLES, TOOL_NAMES, transcripts_spark
    from gmql_spark.operators.rollup import cascade_rollup, rollup, with_gap_seconds

    raw = transcripts_spark(spark, n_conv=40)
    raw_g = with_gap_seconds(raw).select(
        "conv_id", "ts", "role", "tool", "gap_us", "gap_s"
    )
    m1 = rollup(
        raw_g, "1m", with_gaps=False,
        role_values=list(ROLES), tool_values=list(TOOL_NAMES),
    ).persist()
    generic = cascade_rollup(m1, "1h").toPandas()
    fused = cascade_rollup(
        m1, "1h", role_values=list(ROLES), tool_values=list(TOOL_NAMES)
    ).toPandas()
    m1.unpersist()
    key = ["conv_id", "window_start"]
    generic = generic.sort_values(key).reset_index(drop=True)
    fused = fused.sort_values(key).reset_index(drop=True)
    assert len(generic) == len(fused) > 0
    for c in generic.columns:
        if c in ("role_counts", "tool_counts"):
            # entry ORDER must match too (both sorted by category)
            assert all(
                list(x.items()) == list(y.items())
                for x, y in zip(generic[c], fused[c])
            ), c
        else:
            eq = generic[c].eq(fused[c]) | (generic[c].isna() & fused[c].isna())
            assert eq.all(), c
