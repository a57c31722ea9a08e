"""Plan-property tests: the performance contract (SURVEY.md §4).

These assert the *shape* of the physical plan, which is what survives a
100x scale-up: hash aggregates (no object-agg fallback), broadcast for
small dims, filter pushdown to the scan, bounded exchange counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.operators.rollup import rollup, rollup_all_tiers
from gmql_spark.plans.inspect import assert_no_object_agg, physical_plan, plan_report


@pytest.fixture(scope="module")
def raw(spark):
    return datagen.transcripts_spark(spark, n_conv=30)


def test_rollup_plan_is_pure_codegen_agg(raw):
    """With closed category domains the whole rollup is hash-agg codegen
    (the built-in exact percentile would introduce an ObjectHashAggregate
    with its 128-group sort fallback; our rank plan must not). Checked
    on the tier builder's 1h frame for both tier shapes. The sketch path
    carries HLL sketches and log₂ histogram maps, whose aggregates are
    object aggregates by construction over tier-sized rows; every other
    aggregate of its plan — the cascade and the exact percentiles —
    must be a hash aggregate."""
    from gmql_spark.datagen import TOOL_NAMES
    from gmql_spark.operators.rollup import TIER_DURATION, exact_percentiles, with_gap_seconds

    tools = list(TOOL_NAMES)
    df = rollup(raw, "1m", tool_values=tools)
    assert_no_object_agg(df)
    assert plan_report(df)["hash_agg"] > 0
    assert_no_object_agg(rollup_all_tiers(raw, tool_values=tools)["1h"])

    sk = rollup_all_tiers(raw, tool_values=tools, with_sketches=True)["1h"]
    sketch_aggs = ("hll_sketch_agg(", "hll_union_agg(", "collect_list(struct(_b,")
    obj = [ln for ln in physical_plan(sk).splitlines() if "ObjectHashAggregate" in ln]
    assert obj and all(any(a in ln for a in sketch_aggs) for ln in obj), obj
    # the sketch path's percentile side, exactly as the builder forms it
    g = with_gap_seconds(raw).withColumn(
        "window_start", F.window("ts", TIER_DURATION["1h"]).start
    )
    assert_no_object_agg(exact_percentiles(g, ["conv_id", "window_start"], "gap_s"))


def test_tier_builder_coarse_tiers_are_join_free(raw):
    """Without sketches the builder's 1h and 1d frames have the 1m
    frame's shape: the same exchanges and joins (none at all with closed
    category domains) — no cascade ⨝ percentiles join per coarser tier."""
    for kw in ({}, {"tool_values": list(datagen.TOOL_NAMES)}):
        reps = {t: plan_report(df) for t, df in rollup_all_tiers(raw, **kw).items()}
        for t in ("1h", "1d"):
            for k in ("exchanges", "joins"):
                assert reps[t][k] == reps["1m"][k], (kw, t, reps)
    assert reps["1m"]["joins"] == 0, reps


def test_generic_path_object_agg_only_on_counted_rows(raw):
    """Open category domains may use collect_list, but only to assemble
    maps from pre-counted tier-sized rows — never over raw rows."""
    from gmql_spark.plans.inspect import physical_plan

    df = rollup(raw, "1m")  # tool_values=None -> two-level path
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "ObjectHashAggregate" in line:
            assert "map_from_entries" in line or "_cat" in line or "_n" in line, line


def test_rollup_exchange_budget(raw):
    """1m rollup: bounded shuffles — lag window, main agg, percentile
    sort, join. More exchanges than that means a planning regression."""
    rep = plan_report(rollup(raw, "1m"))
    assert rep["exchanges"] <= 6, rep


def test_scan_pushdown(spark, tmp_path):
    p = str(tmp_path / "t")
    datagen.transcripts_spark(spark, n_conv=20).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("role") == "tool").select("conv_id", "ts")
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,tool)]" in plan, plan[:1500]
    assert "ReadSchema: struct<conv_id:string,role:string,ts:timestamp" in plan.replace(
        "\n", ""
    ) or "conv_id" in plan.split("ReadSchema")[1][:200], "column pruning missing"


def test_flat_cover_has_no_cartesian_product(spark):
    """The keyless island×interval footprint join must be a bucketed
    equi-join, never CartesianProduct / BroadcastNestedLoopJoin (the
    islands×raw blowup at scale)."""
    import datetime as dt

    from gmql_spark.operators.cover import flat_cover

    rows = [
        (dt.datetime(2026, 1, 1, 0, m), dt.datetime(2026, 1, 1, 0, m + 10))
        for m in range(0, 40, 5)
    ]
    iv = spark.createDataFrame(rows, "start_ts timestamp, end_ts timestamp")
    out = flat_cover(iv, min_acc=2)
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_new_joins_plan_shape(spark):
    """nearest_k and interval_join must plan as shuffled equi-joins with
    residuals — no CartesianProduct/BroadcastNestedLoopJoin, no object
    aggregates — and bounded exchange counts."""
    import datetime as dt

    from gmql_spark.operators.join import interval_join, nearest_k

    T0 = dt.datetime(2026, 1, 1)
    m = lambda x: T0 + dt.timedelta(minutes=x)  # noqa: E731
    ev = spark.createDataFrame(
        [(i, "k", m(i)) for i in range(50)], "event_id long, k string, ts timestamp"
    )
    nk = nearest_k(ev, ev.select("k", "ts"), keys=["k"], k=2,
                   max_distance_s=600.0, left_id="event_id")
    plan = physical_plan(nk)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert_no_object_agg(nk)
    assert plan_report(nk)["exchanges"] <= 4, plan_report(nk)

    iv = spark.createDataFrame(
        [(i, "k", m(i * 5), m(i * 5 + 11)) for i in range(30)],
        "lid long, k string, start_ts timestamp, end_ts timestamp",
    )
    ij = interval_join(iv, iv.withColumnRenamed("lid", "rid"), keys=["k"],
                       builder="intersection", bucket_s=600.0)
    plan = physical_plan(ij)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_semijoin_broadcasts(spark, raw):
    dims = datagen.gen_conversations(30)
    dim_df = spark.createDataFrame(dims)
    out = raw.join(dim_df.filter(F.col("lang") == "en").select("conv_id"), "conv_id", "left_semi")
    rep = plan_report(out)
    assert rep["broadcasts"] >= 1, physical_plan(out)[:1500]


def test_no_unpartitioned_windows_engine_wide(spark, raw):
    """HARD rule (also enforced per-gate by tools/plan_audit.py): no
    window spec anywhere may have an empty partition list — that is a
    single-task global sort at scale. The keyless-sweep helpers must
    plan their boundary patches as single-row array scans instead."""
    from pyspark.sql.window import Window

    from gmql_spark.operators.cover import (
        _keyless_cumsum,
        _keyless_neighbors,
        _with_pid,
        accumulation,
    )
    from gmql_spark.plans.inspect import unpartitioned_windows

    # the detector itself: positive controls — a plain column order AND
    # an order EXPRESSION (parens in the spec's first element defeated
    # the old flat-regex detector, hiding e.g. orderBy(cast(...)))
    bad = raw.withColumn("r", F.row_number().over(Window.orderBy("ts")))
    assert unpartitioned_windows(physical_plan(bad)), "detector missed a global window"
    bad_expr = raw.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("ts").cast("long")))
    )
    assert unpartitioned_windows(physical_plan(bad_expr)), (
        "detector missed a global window ordered by an expression"
    )
    # negative control: a PARTITIONED window ordered by an expression
    good = raw.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("conv_id").orderBy(F.col("ts").cast("long"))
        ),
    )
    assert not unpartitioned_windows(physical_plan(good))

    ev = raw.select("conv_id", "ts").withColumn("_d", F.lit(1))
    p = _with_pid(ev, "ts")
    for df in (
        _keyless_cumsum(p, "ts", "_d", "cum"),
        _keyless_neighbors(p, "ts", lag_cols=("_d",), lead_cols=("_d",)),
        accumulation(raw.select(F.col("ts").alias("start_ts"),
                                (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"))),
    ):
        hits = unpartitioned_windows(physical_plan(df))
        assert not hits, f"unpartitioned window leaked into plan: {hits}"
