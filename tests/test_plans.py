"""Plan-property tests: the performance contract (SURVEY.md §4).

These assert the *shape* of the physical plan, which is what survives a
100x scale-up: hash aggregates (no object-agg fallback), broadcast for
small dims, filter pushdown to the scan, bounded exchange counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.operators.rollup import cascade_rollup, rollup, rollup_all_tiers
from gmql_spark.plans.inspect import assert_no_object_agg, physical_plan, plan_report


@pytest.fixture(scope="module")
def raw(spark):
    return datagen.transcripts_spark(spark, n_conv=30)


def test_rollup_plan_is_pure_codegen_agg(raw):
    """With closed category domains the whole rollup is hash-agg codegen
    (the built-in exact percentile would introduce an ObjectHashAggregate
    with its 128-group sort fallback; our rank plan must not). Checked
    on the tier builder's 1h frame for both tier shapes. With sketches
    the builder's second stage builds HLL sketches and log₂ histogram
    maps from counted rows, object aggregates by construction; every
    other aggregate of its plan must be a hash aggregate. So must every
    aggregate of ``exact_percentiles`` over (key, window_start), the
    percentile plan of the gates and GSL."""
    from gmql_spark.datagen import TOOL_NAMES
    from gmql_spark.operators.rollup import exact_percentiles, with_gap_seconds
    from gmql_spark.operators.window_agg import TIER_DURATION

    tools = list(TOOL_NAMES)
    df = rollup(raw, "1m", tool_values=tools)
    assert_no_object_agg(df)
    assert plan_report(df)["hash_agg"] > 0
    assert_no_object_agg(rollup_all_tiers(raw, tool_values=tools)["1h"])

    sk = rollup_all_tiers(raw, tool_values=tools, with_sketches=True)["1h"]
    sketch_aggs = ("hll_sketch_agg(", "collect_list(struct(_b,")
    obj = [ln for ln in physical_plan(sk).splitlines() if "ObjectHashAggregate" in ln]
    assert obj and all(any(a in ln for a in sketch_aggs) for ln in obj), obj
    # exact percentiles per (key, 1h window), as the gates and GSL form them
    g = with_gap_seconds(raw).withColumn(
        "window_start", F.window("ts", TIER_DURATION["1h"]).start
    )
    assert_no_object_agg(exact_percentiles(g, ["conv_id", "window_start"], "gap_s"))


def test_tier_builder_coarse_tiers_are_join_free(raw):
    """Without digests the builder's 1h and 1d frames have the 1m
    frame's shape: the same exchanges and joins (none at all with closed
    category domains, or with sketches) — no cascade ⨝ percentiles join
    per coarser tier."""
    for kw in (
        {}, {"tool_values": list(datagen.TOOL_NAMES)}, {"with_sketches": True},
    ):
        reps = {t: plan_report(df) for t, df in rollup_all_tiers(raw, **kw).items()}
        for t in ("1h", "1d"):
            for k in ("exchanges", "joins"):
                assert reps[t][k] == reps["1m"][k], (kw, t, reps)
    assert reps["1m"]["joins"] == 0, reps


def test_cascade_chain_plan_budget(raw):
    """A GSL chain ``ROLLUP 1m → CASCADE 1h → CASCADE 1d``, unpersisted
    as a script plans it, keeps the rollup's one exchange and plans no
    join, open roles and sketches included: each cascade is one
    explode and two aggregate stages whose keys start with the key the
    rollup is partitioned by."""
    for kw in ({}, {"role_values": None}, {"with_sketches": True}):
        chain = cascade_rollup(cascade_rollup(rollup(raw, "1m", **kw), "1h"), "1d")
        rep = plan_report(chain)
        assert rep["exchanges"] <= 1 and rep["joins"] == 0, (kw, rep)


def test_all_tier_frame_shares_exchanges(spark, raw, tmp_path):
    """The pipeline's all-tier frame over a table with stored gaps (every
    tier of a bucket in one plan, open tool domain, as ``run_pipeline``
    builds it; with sketches too, as a sketch refresh builds it) plans
    one exchange and no join or broadcast: the rank window and both
    aggregate stages share one hash partitioning. It reads the bucket
    once: one scan feeds every tier. Its only object aggregates assemble
    the tool maps (and sketches) from counted rows, never from raw
    rows."""
    from gmql_spark.operators.rollup import DEFAULT_ROLES, _build_tiers, with_gap_seconds
    from gmql_spark.sources.catalog import read_fact_leaves, write_transcripts

    fact = str(tmp_path / "fact")
    write_transcripts(raw, fact, n_buckets=2, precompute_gaps=True)
    for with_sketches in (False, True):
        together = _build_tiers(
            with_gap_seconds(read_fact_leaves(spark, fact, bucket=0)), None,
            ("1m", "1h", "1d"), key="conv_id", ts="ts", role_values=DEFAULT_ROLES,
            tool_values=None, with_sketches=with_sketches,
        )
        rep = plan_report(together)
        assert (rep["exchanges"], rep["joins"], rep["broadcasts"]) == (1, 0, 0), rep
        plan = physical_plan(together)
        assert plan.count("FileScan parquet") == 1, plan
        obj = [ln for ln in plan.splitlines() if "ObjectHashAggregate" in ln]
        assert obj and all("collect_list(struct(tool, tool#" in ln for ln in obj), obj
        # the map stage reads the counted (key, tier, window, tool) rows
        counted = [ln for ln in plan.splitlines() if "HashAggregate(keys=[" in ln
                   and "Object" not in ln]
        assert counted and all(
            "tool#" in ln.split("functions=")[0] for ln in counted
        ), counted


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
    """1m rollup: one shuffle — the lag window's partitioning by key
    also serves the rank window and both aggregate stages. More
    exchanges than that means a planning regression."""
    rep = plan_report(rollup(raw, "1m"))
    assert rep["exchanges"] <= 1, rep


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
