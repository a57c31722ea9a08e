"""Mergeable per-window sketches for the retention tiers.

Percentiles and distinct counts are the two rollup stats that do NOT
re-aggregate tier→tier (the engine's exact percentiles are recomputed
from raw per tier, ``operators.rollup.exact_percentiles``). At 100 TB
that raw re-scan per tier is the single most expensive part of a tier
build, so the tiers can optionally carry *mergeable sketches* instead:

- **log₂ latency histograms** (``hist_rollup``/``hist_cascade``): a
  ``map<int,bigint>`` of power-of-two buckets over ``gap_us``. Merging
  is exact (count addition), gated against a DuckDB oracle
  (`latency_histogram` in ``__spark_entry__``); ``hist_percentile``
  extracts an approximate quantile with ≤2× relative error (one-bucket
  width), tested against the exact rank+lerp plan.
- **HLL distinct sketches** (``hll_rollup``/``hll_cascade``): Apache
  DataSketches HLL via Spark's built-in ``hll_sketch_agg`` /
  ``hll_union_agg`` (JVM-side, no UDF). The union of per-1m sketches
  over a partition of the rows is the same sketch as one pass over the
  hour — estimates agree exactly (register-wise max is associative),
  pytest-verified.

The bucket index is computed with INTEGER arithmetic
(``length(conv(x, 10, 2)) - 1`` = bit_length-1), not ``floor(log2(x))``,
so Spark and DuckDB (``length(to_base(x, 2)) - 1``) can never disagree
by a ulp at bucket boundaries. ``gap_us = 0`` gets its own bucket −1
(exact zeros), nulls are skipped (GMQL aggregate null-skip semantics,
``DefaultRegionsToRegionFactory.scala:13-170``).

Scale shape: both sketches follow the module's two-level rule — a
codegen hash aggregate over raw-scale rows first (per-bucket counts /
the HLL partial), then the tiny per-window assembly; no
ObjectHashAggregate ever sees raw-scale data (the HLL partial is an
imperative aggregate, but its state is one fixed-size sketch per group,
merged map-side like any partial agg).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# kept in sync with operators.rollup.TIER_DURATION (not imported: rollup
# imports gmql_spark.functions, so importing it back here would cycle)
TIER_DURATION = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def log2_bucket(col: Column) -> Column:
    """Power-of-two bucket index of a non-negative integer column:
    ``bit_length(x) - 1`` (= floor(log2 x) for x >= 1), −1 for 0, null
    for null. Integer-exact — no float log."""
    return (
        F.when(col == 0, F.lit(-1))
        .otherwise(F.length(F.conv(col.cast("string"), 10, 2)) - 1)
        .cast("int")
    )


def hist_rollup(
    df: DataFrame,
    tier: str,
    keys: Sequence[str] = ("conv_id",),
    value_col: str = "gap_us",
    ts: str = "ts",
    out: str = "lat_hist",
) -> DataFrame:
    """Per-window log₂ histogram map of ``value_col``.

    Two-level: hash-count per (keys, window, bucket) in pure codegen,
    then assemble the (small) map rows."""
    keys = list(keys)
    win = F.window(ts, TIER_DURATION[tier])
    counted = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, win.alias("w"), log2_bucket(F.col(value_col)).alias("_b"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        counted.groupBy(
            *keys,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("_b", "_n")))
            ).alias(out)
        )
    )


def hist_cascade(
    finer: DataFrame,
    tier: str,
    keys: Sequence[str] = ("conv_id",),
    col: str = "lat_hist",
) -> DataFrame:
    """Merge finer-tier histogram maps to a coarser grain — exact
    (bucket-wise count addition). Explode → codegen hash sum →
    reassemble; never a map-fold object aggregate over the whole tier."""
    keys = list(keys)
    win = F.window("window_start", TIER_DURATION[tier])
    return (
        finer.select(*keys, win.alias("w"), F.explode(col).alias("_b", "_n"))
        .groupBy(*keys, "w", "_b")
        .agg(F.sum("_n").alias("_n"))
        .groupBy(
            *keys,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("_b", "_n")))
            ).alias(col)
        )
    )


def hist_percentile(hist: Column, q: float) -> Column:
    """Approximate quantile from a log₂ histogram map: locate the bucket
    holding rank ``ceil(q·total)`` and interpolate linearly inside its
    [2^b, 2^(b+1)) range. Relative error ≤ one bucket width (2×);
    bucket −1 (exact zeros) yields 0.0. Pure HOF fold over the (≤64
    entry) map — no explode, usable as a plain projection column."""
    entries = F.array_sort(F.map_entries(hist))
    zero = F.lit(0).cast("long")
    total = F.aggregate(entries, zero, lambda acc, e: acc + e["value"])
    target = F.greatest(F.lit(1).cast("long"), F.ceil(F.lit(float(q)) * total))

    def step(acc, e):
        lo = F.when(e["key"] == -1, F.lit(0.0)).otherwise(F.pow(F.lit(2.0), e["key"]))
        hi = F.when(e["key"] == -1, F.lit(0.0)).otherwise(
            F.pow(F.lit(2.0), e["key"] + 1)
        )
        frac = (target - acc["cum"]).cast("double") / e["value"].cast("double")
        hit = lo + frac * (hi - lo)
        cum2 = acc["cum"] + e["value"]
        return F.struct(
            cum2.alias("cum"),
            F.when(acc["res"].isNotNull(), acc["res"])
            .when(cum2 >= target, hit)
            .otherwise(F.lit(None).cast("double"))
            .alias("res"),
        )

    init = F.struct(zero.alias("cum"), F.lit(None).cast("double").alias("res"))
    return F.aggregate(entries, init, step)["res"]


# ------------------------------------------------------------- HLL

def hll_rollup(
    df: DataFrame,
    tier: str,
    col: str,
    keys: Sequence[str] = ("conv_id",),
    ts: str = "ts",
    lgk: int = 12,
    out: str = "hll",
) -> DataFrame:
    """Per-window DataSketches HLL sketch of ``col`` (binary column) —
    the mergeable form of count_distinct for the tiers."""
    keys = list(keys)
    win = F.window(ts, TIER_DURATION[tier])
    agged = df.filter(F.col(col).isNotNull()).groupBy(*keys, win.alias("w")).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias(out)
    )
    return agged.select(
        *keys,
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        out,
    )


def hll_cascade(
    finer: DataFrame,
    tier: str,
    keys: Sequence[str] = ("conv_id",),
    col: str = "hll",
) -> DataFrame:
    """Union finer-tier HLL sketches to a coarser grain. The union of
    sketches over a row-partition equals the one-pass sketch (register
    max is associative/commutative), so estimates match the direct
    build exactly."""
    keys = list(keys)
    win = F.window("window_start", TIER_DURATION[tier])
    agged = finer.groupBy(*keys, win.alias("w")).agg(
        F.hll_union_agg(F.col(col)).alias(col)
    )
    return agged.select(
        *keys,
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        col,
    )


def hll_estimate(col: Column) -> Column:
    return F.hll_sketch_estimate(col)
