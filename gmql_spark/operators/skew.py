"""Hot-key skew handling: salted two-phase aggregation.

North rule: "explicit conv_id-hash bucketing plus salted repartitioning
for hot-conversation skew". The reference has no skew handling at all
(a hot chromosome is a hot partition; SURVEY §4.2). Two mechanisms here:

1. AQE skew-join splitting (session default, ``session.py``) for joins.
2. ``salted_agg`` for aggregations whose key distribution is pathological
   even at (key, window) grain: phase 1 aggregates on
   (key, salt = hash(row)%S), phase 2 merges the S partials. Only valid
   for mergeable aggregates — the caller supplies both phases; the
   result equality law (salted == direct) is enforced by tests.

For the rollup pipeline the natural grain (conv_id, window) bounds any
single group by turns-per-window, so salting matters for *global* or
*per-day* aggregations over hot conversations — e.g. whole-conversation
EXTEND stats on a 10^7-turn conversation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    phase1: Sequence[Column],
    phase2: Sequence[Column],
    n_salts: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-phase aggregation with key salting.

    ``phase1``: aggregates over (keys..., salt) — runs on the salted
    shuffle so a hot key spreads over ``n_salts`` reducers.
    ``phase2``: merge aggregates over keys, consuming phase-1 columns by
    name. ``salt_on``: column whose hash picks the salt (defaults to a
    per-row deterministic hash of all columns via ``xxhash64(*)``).
    """
    salt_src = F.xxhash64(*(F.col(salt_on),) if salt_on else [F.col(c) for c in df.columns])
    salted = df.withColumn("_salt", F.pmod(salt_src, F.lit(n_salts)))
    p1 = salted.groupBy(*keys, "_salt").agg(*phase1)
    return p1.groupBy(*keys).agg(*phase2).drop("_salt")


def salted_conv_stats(
    df: DataFrame, key: str = "conv_id", n_salts: int = 16
) -> DataFrame:
    """EXTEND-style per-conversation stats, skew-proof: turn_count,
    first/last ts, exact latency_sum_us — mergeable aggregates via
    salted two phases. (Exact percentiles are not salt-mergeable; for
    those use exact_percentiles, whose rank plan spreads a hot key
    across the sort anyway.)"""
    phase1 = [
        F.count(F.lit(1)).alias("turn_count"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum("gap_us").alias("latency_sum_us"),
    ]
    phase2 = [
        F.sum("turn_count").alias("turn_count"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.sum("latency_sum_us").alias("latency_sum_us"),
    ]
    return salted_agg(df, [key], phase1, phase2, n_salts=n_salts, salt_on="ts")
