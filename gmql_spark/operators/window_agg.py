"""Generic event-time window aggregation (the MAP/GROUP recast).

The engine's one window-aggregate core: every "(keys, tumbling window
of a time column) → aggregates" plan — batch tiers, tier→tier cascades
and the streaming twins — goes through this module, except the tier
builder's fused pass (``rollup._build_tiers``), whose rank window and
two aggregate stages share one window column. GMQL's
GenometricMap for tumbling windows needs no join at all
(``groupBy(keys, window(ts, Δ))`` is the binning —
``GenometricMap71.scala:152-182`` replicates to bins by hand), and
GMQL's GroupRD (``GroupRD.scala:17-66``: md5-keyed coordinate grouping +
aggregates) is ``groupBy`` with the window struct as the coordinate.

- ``window_rollup``: keys + window_start + window_end + aggregates. A
  cascade re-aggregates a finer ``window_rollup`` output by passing
  ``ts="window_start"`` with the caller's merge aggregates (sum over
  counts, min over mins, sketch unions).
- ``window_counts_map``: a category histogram map per window, built
  two-level (hash count/sum per (keys, window, category), then map
  assembly over the counted rows), so no object aggregate ever runs
  over raw-scale rows.

Sliding windows use Spark's native ``window(ts, size, slide)`` generator
(one row per covered window — the same replication strategy as the
reference's bin flatMap, but planned by Catalyst with whole-stage
codegen).

This module imports nothing from ``gmql_spark.functions``, so the
sketch modules can take ``TIER_DURATION`` from here without a cycle.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TIER_DURATION = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def tier_step(tier: str) -> timedelta:
    """Tier ``tier``'s window length, read from ``TIER_DURATION`` when
    called: the grid of the tier builder, realtime serving and gap-fill."""
    n, unit = TIER_DURATION[tier].split()
    return timedelta(**{unit.rstrip("s") + "s": int(n)})


def window_rollup(
    df: DataFrame,
    duration: str,
    aggs: Sequence[Column],
    keys: Sequence[str] = (),
    ts: str = "ts",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) window aggregate.

    Output: keys + window_start + window_end + the aliased aggregates.
    """
    win = F.window(ts, duration, slide) if slide else F.window(ts, duration)
    out = df.groupBy(*keys, win.alias("w")).agg(*aggs)
    return out.select(
        *keys,
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in out.columns if c not in (*keys, "w")],
    )


def window_counts_map(
    df: DataFrame,
    duration: str,
    cat: str,
    out: str,
    keys: Sequence[str] = (),
    ts: str = "ts",
    weight: str | None = None,
) -> DataFrame:
    """Per-window histogram map ``cat -> count`` (or ``-> sum(weight)``
    when ``weight`` is given, to merge finer histograms exploded to
    (cat, n) rows), for the standalone sketch histograms
    (``sketches.hist_rollup``/``hist_cascade``); the tier builder and
    ``rollup.cascade_rollup`` assemble their maps in their own
    aggregates instead. ``cat`` must not
    be null, since a map key cannot be: callers drop null categories
    first (GMQL's aggregate null-skip), where a cheaper column than the
    category may carry the null.

    Two-level: a codegen hash count per (keys, window, cat) over the
    input rows, then ``map_from_entries(array_sort(collect_list(...)))``
    over the counted rows, which are few per window. The map assembly
    groups by (keys, window_start) alone, so a caller joining the map
    back at that grain reuses its partitioning; a caller that drops
    ``window_end`` also drops its aggregate.

    Output: keys + window_start + window_end + ``out``."""
    keys = list(keys)
    n = F.count(F.lit(1)) if weight is None else F.sum(weight)
    counted = df.groupBy(*keys, F.window(ts, duration).alias("w"), cat).agg(
        n.alias("_n")
    )
    return counted.groupBy(*keys, F.col("w.start").alias("window_start")).agg(
        F.max("w.end").alias("window_end"),
        F.map_from_entries(F.array_sort(F.collect_list(F.struct(cat, "_n")))).alias(out),
    )
