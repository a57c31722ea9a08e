"""Rollup tiers vs the pandas oracle — the per-tier point-match gate
(BASELINE.md: 100% exact match at raw→1m→1h→1d)."""

from __future__ import annotations

import pytest

from gmql_spark import datagen
from gmql_spark.operators.rollup import (
    DEFAULT_ROLES,
    PCT_NAMES,
    cascade_rollup,
    rollup,
    rollup_all_tiers,
)
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


MERGEABLE = [
    "conv_id", "window_start", "window_end", "turn_count", "role_counts",
    "tool_counts", "latency_cnt", "latency_sum_us", "first_ts", "last_ts",
]


@pytest.mark.parametrize("role_values", [DEFAULT_ROLES, None], ids=["closed", "open"])
def test_cascade_rollup_matches_oracle(data, role_values):
    """GSL ``CASCADE``: ``cascade_rollup`` of the 1m tier to 1h, and of
    that 1h frame to 1d, equals the oracle on every mergeable column,
    with map entries sorted by category."""
    pdf, sdf = data
    h1 = cascade_rollup(rollup(sdf, "1m", role_values=role_values), "1h")
    for tier, df in (("1h", h1), ("1d", cascade_rollup(h1, "1d"))):
        got = df.toPandas()
        assert list(got.columns) == MERGEABLE
        exp = oracle_rollup(pdf, tier)[MERGEABLE]
        assert_pdf_equal(got, exp, ["conv_id", "window_start"], float_cols=("latency_sum_us",))
        for c in ("role_counts", "tool_counts"):
            assert all(list(m) == sorted(m) for m in got[c]), (tier, c)


def test_role_counts_entries_in_one_order(data):
    """The tier builder (closed role domain) and GSL ``CASCADE`` write
    ``role_counts`` entries in one order, sorted by role: the entry
    lists are equal, not only the maps."""
    from pyspark.sql import functions as F

    _, sdf = data
    key = ["conv_id", "window_start"]

    def entries(df):
        out = df.select(*key, F.to_json("role_counts").alias("entries")).toPandas()
        return out.sort_values(key).reset_index(drop=True)

    direct = entries(rollup(sdf, "1h"))
    assert direct["entries"].str.contains('"assistant".*"user"').any()
    cascaded = entries(cascade_rollup(rollup(sdf, "1m"), "1h"))
    assert_pdf_equal(direct, cascaded, key)


def test_cascade_rollup_sketches_match_direct(data):
    """With sketches the cascaded ``lat_hist`` equals ``hist_rollup``
    over raw, bit for bit, and ``tool_hll`` has ``hll_rollup``'s
    estimate in every window and is null in windows without tools."""
    from pyspark.sql import functions as F

    from gmql_spark.functions.sketches import hist_rollup, hll_rollup
    from gmql_spark.operators.rollup import with_gap_seconds

    _, sdf = data
    key = ["conv_id", "window_start"]
    h1 = cascade_rollup(rollup(sdf, "1m", with_sketches=True), "1h")
    for tier, df in (("1h", h1), ("1d", cascade_rollup(h1, "1d"))):
        got = df.select(
            *key, "lat_hist", F.hll_sketch_estimate("tool_hll").alias("est")
        ).toPandas()
        hist = hist_rollup(with_gap_seconds(sdf), tier).select(*key, "lat_hist")
        hll = hll_rollup(sdf, tier, "tool").select(
            *key, F.hll_sketch_estimate("hll").alias("est")
        )
        exp = (
            rollup(sdf, tier).select(*key).join(hist, key, "left").join(hll, key, "left")
            .toPandas()
        )
        exp["lat_hist"] = exp["lat_hist"].map(lambda m: m or {})
        assert got["est"].isna().any() and got["est"].notna().any(), tier
        assert_pdf_equal(got, exp, key)
        assert all(list(m) == sorted(m) for m in got["lat_hist"]), tier


def test_cascade_rollup_null_map_keeps_other_maps(data):
    """A null map in a finer row contributes no entries and drops none
    of the row's other maps or stats: with ``role_counts`` nulled on
    some 1m rows, the cascade's ``role_counts`` are the sum of the
    remaining rows' maps and every other column equals the oracle."""
    from collections import Counter

    from pyspark.sql import functions as F

    pdf, sdf = data
    m1 = rollup(sdf, "1m")
    nulled = F.abs(F.xxhash64("conv_id", "window_start")) % 3 == 0
    m1 = m1.withColumn("role_counts", F.when(~nulled, F.col("role_counts")))
    fine = m1.select("conv_id", "window_start", "role_counts").toPandas()
    assert fine["role_counts"].isna().any() and fine["role_counts"].notna().any()
    fine["window_start"] = fine["window_start"].dt.floor("1h")
    merged = fine.groupby(["conv_id", "window_start"])["role_counts"].agg(
        lambda ms: dict(sum((Counter(dict(m)) for m in ms if m is not None), Counter()))
    )
    got = cascade_rollup(m1, "1h").toPandas()
    exp = oracle_rollup(pdf, "1h")[MERGEABLE].drop(columns="role_counts")
    exp = exp.merge(merged.reset_index(), on=["conv_id", "window_start"])
    assert (exp["role_counts"].map(len) == 0).any()
    assert_pdf_equal(got, exp, ["conv_id", "window_start"], float_cols=("latency_sum_us",))


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
    fused = rollup(raw_g, "1h", role_values=list(ROLES)).toPandas()

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


def test_two_stage_maps_equal_join_formulation(spark):
    """The tier builder's open-domain maps — built in a second aggregate
    stage over (key, tier, window, open categories) rows on the rank's
    partitioning — equal the join formulation (every other column from
    the closed-domain frame ⨝ ``window_counts_map`` per tier at
    (key, tier, window_start), empty map when absent) bit for bit,
    entry order included: open tools, open roles and tools together,
    null roles and tools, and windows whose only tool is null."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from gmql_spark.datagen import ROLES, TOOL_NAMES, transcripts_spark
    from gmql_spark.operators.rollup import _build_tiers, with_gap_seconds
    from gmql_spark.operators.window_agg import TIER_DURATION, window_counts_map

    raw = transcripts_spark(spark, n_conv=40)
    h = F.abs(F.xxhash64("conv_id", "turn_idx")) % 7
    raw_g = with_gap_seconds(
        raw.withColumn("role", F.when(h == 0, F.lit(None)).otherwise(F.col("role")))
        .withColumn(
            "tool",
            F.when(h == 1, F.lit(None)).when(h == 2, F.lit("bash")).otherwise(F.col("tool")),
        )
    ).select("conv_id", "ts", "role", "tool", "gap_us", "gap_s")
    tiers = ("1m", "1h")
    kw = dict(key="conv_id", ts="ts", with_sketches=False)
    closed = _build_tiers(
        raw_g, None, tiers, role_values=list(ROLES), tool_values=list(TOOL_NAMES), **kw
    )
    keys = ["conv_id", "tier", "window_start"]
    empty = F.expr("cast(map() as map<string,bigint>)")
    for role_values in (list(ROLES), None):
        got = _build_tiers(raw_g, None, tiers, role_values=role_values, tool_values=None, **kw)
        old = closed
        for cat, vals in (("role", role_values), ("tool", None)):
            if vals is not None:
                continue
            out = f"{cat}_counts"
            counts = reduce(DataFrame.union, [
                window_counts_map(
                    raw_g.filter(F.col(cat).isNotNull()), TIER_DURATION[t], cat, out,
                    keys=["conv_id"],
                ).drop("window_end").withColumn("tier", F.lit(t))
                for t in tiers
            ])
            old = old.drop(out).join(counts, on=keys, how="left").withColumn(
                out, F.coalesce(F.col(out), empty)
            )
        assert got.schema == old.select(*got.columns).schema, role_values
        a = got.toPandas().sort_values(keys).reset_index(drop=True)
        b = old.select(*got.columns).toPandas().sort_values(keys).reset_index(drop=True)
        assert len(a) == len(b) > 0
        assert (a["tool_counts"].map(len).eq(0) & a["turn_count"].gt(0)).any(), (
            "no window whose only tools are null"
        )
        for c in a.columns:
            if c.endswith("_counts"):
                assert all(
                    list(x.items()) == list(y.items()) for x, y in zip(a[c], b[c])
                ), (role_values, c)
            else:
                eq = a[c].eq(b[c]) | (a[c].isna() & b[c].isna())
                assert eq.all(), (role_values, c)
        if role_values is None:  # a tool's entries repeat across roles
            assert (a["role_counts"].map(len).gt(1) & a["tool_counts"].map(len).gt(0)).any()


TIER_FOOTER = [
    ("conv_id", True, "string"),
    ("window_start", True, "timestamp"),
    ("window_end", True, "timestamp"),
    ("turn_count", False, "bigint"),
    ("role_counts", False, "map<string,bigint,values non-null>"),
    ("tool_counts", False, "map<string,bigint>"),
    ("latency_p50", True, "double"),
    ("latency_p95", True, "double"),
    ("latency_p99", True, "double"),
    ("latency_cnt", False, "bigint"),
    ("latency_sum_us", True, "bigint"),
    ("first_ts", True, "timestamp"),
    ("last_ts", True, "timestamp"),
]


SKETCH_FOOTER = [
    ("lat_hist", False, "map<int,bigint>"),
    ("tool_hll", True, "binary"),
]
DIGEST_FOOTER = [
    (
        "lat_digest", True,
        "struct<means:array<double>,weights:array<double>,vmin:double,vmax:double>",
    ),
]


def _footer_fields(table: str) -> list[tuple]:
    from gmql_spark.sources.catalog import footer_schema

    out = []
    for f in footer_schema(table):
        t = f.dataType
        typ = t.simpleString() + (
            ",values non-null>" if getattr(t, "valueContainsNull", True) is False else ""
        )
        out.append((f.name, f.nullable, typ.replace(">,values", ",values")))
    return out


def test_tier_table_footer_schema(spark, tmp_path):
    """The tier tables ``run_pipeline`` and ``refresh_tiers`` write keep
    one footer schema, nullability included: counts non-null, the known
    role map's values non-null and the open tool map's values nullable.
    A refresh swaps its leaves into tables whose other leaves an older
    build wrote, so the schema may not drift. A sketch refresh writes
    the same columns plus its sketch columns, with one schema for every
    tier (the digest arrays' element nullability included)."""
    from gmql_spark.checkpoint import run_pipeline
    from gmql_spark.incremental import append_transcripts, refresh_tiers
    from gmql_spark.sources.catalog import footer_schema, write_transcripts

    raw = datagen.transcripts_spark(spark, n_conv=20)
    fact = str(tmp_path / "fact")
    write_transcripts(raw, fact, n_buckets=2, precompute_gaps=True)
    run_pipeline(spark, None, str(tmp_path / "pipe"), n_buckets=2, raw_path=fact)
    inc = str(tmp_path / "inc")
    dates = append_transcripts(spark, raw, inc, n_buckets=2)
    extra = {False: [], True: SKETCH_FOOTER, "digest": SKETCH_FOOTER + DIGEST_FOOTER}
    for mode in extra:
        refresh_tiers(
            spark, inc, str(tmp_path / f"refreshed_{mode}"), dates=dates,
            with_sketches=mode,
        )
    tables = {"pipe": [], **{f"refreshed_{m}": cols for m, cols in extra.items()}}
    for table, cols in tables.items():
        schemas = []
        for tier in ("1m", "1h", "1d"):
            path = str(tmp_path / table / f"rollup_{tier}")
            assert _footer_fields(path) == TIER_FOOTER + cols, (table, tier)
            schemas.append(footer_schema(path))
        assert schemas[0] == schemas[1] == schemas[2], table


@pytest.mark.parametrize("with_sketches", [False, True], ids=["plain", "sketches"])
def test_all_tier_frame_equals_each_tier(spark, with_sketches):
    """The pipeline's all-tier frame (every tier fanned out from one scan
    of raw) filtered to a tier equals ``rollup`` of that tier, which
    builds one tier alone: schema with nullability, every column bit
    for bit and map entries in order. The input has a row without a
    time, pre-1970 turns and turns on and just before minute, hour and
    day edges."""
    import datetime as dt

    from pyspark.sql import functions as F

    from gmql_spark.operators.rollup import _build_tiers, with_gap_seconds

    def t(s):
        return None if s is None else dt.datetime.fromisoformat(s)

    edges = [
        ("edge", 0, "user", None, "1969-12-31 23:59:59.999999"),
        ("edge", 1, "tool", "search", "1970-01-01 00:00:00"),
        ("edge", 2, "assistant", None, "1970-01-01 00:59:59.999999"),
        ("edge", 3, "tool", "calc", "1970-01-01 01:00:00"),
        ("edge", 4, "tool", "search", None),
        ("edge", 5, "user", None, "1970-01-01 01:01:00"),
        ("old", 0, "user", None, "1955-03-01 12:30:00"),
        ("old", 1, "tool", "calc", "1955-03-01 12:30:59.999999"),
        ("old", 2, "system", None, "1955-03-02 00:00:00"),
        ("now", 0, "user", None, "2026-01-04 23:59:59.999999"),
        ("now", 1, "tool", "search", "2026-01-05 00:00:00"),
        ("now", 2, "assistant", None, "2026-01-05 01:00:00"),
        ("now", 3, "tool", "search", "2026-01-05 01:00:59.999999"),
        ("now", 4, "user", None, "2026-01-05 01:01:00"),
    ]
    cols = ["conv_id", "turn_idx", "role", "tool", "ts"]
    raw = spark.createDataFrame(
        [(*e[:4], t(e[4])) for e in edges],
        "conv_id string, turn_idx int, role string, tool string, ts timestamp",
    ).unionByName(datagen.transcripts_spark(spark, n_conv=30).select(cols))
    together = _build_tiers(
        with_gap_seconds(raw), None, ("1m", "1h", "1d"), key="conv_id", ts="ts",
        role_values=DEFAULT_ROLES, tool_values=None, with_sketches=with_sketches,
    )

    def rows(df):
        exact = {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}
        js = df.select(F.to_json(F.struct(*df.columns), exact).alias("j"))
        return sorted(r.j for r in js.collect())

    for tier in ("1m", "1h", "1d"):
        alone = rollup(raw, tier, with_sketches=with_sketches)
        got = together.filter(F.col("tier") == tier).drop("tier")
        assert got.schema == alone.schema, tier
        assert rows(got) == rows(alone), tier
        assert alone.filter(F.year("window_start") < 1970).count() > 0
