"""Gap-fill: materialize empty windows, LOCF, linear interpolation.

GMQL analogue: MAP's left-outer semantics — reference regions with zero
matching experiment regions still emit a row with count 0
(``GenometricMap71.scala:109-120``: refs joined with default (0, null
aggrs)). Here the "reference frame" is the dense per-conversation window
grid; the gap rows are synthesized with ``sequence()`` + ``explode`` (a
Catalyst generator — the reference's binning flatMap replication,
``GenometricMap71.scala:152-182``, plays the same role).

All three fills are native expressions — no Python:
- zero-fill:   literal 0 on the generated gap rows
- LOCF:        last(value, ignoreNulls) over the PRESENT rows (a gap
               row's last observation is its generating row's)
- linear:      prev/next known value + timestamps via last/first
               (ignoreNulls) forward & backward windows over the present
               rows, then pure arithmetic per generated instant

Scale notes (r8 shape): every shuffle, sort and window pass runs over
the PRESENT rows only; the dense grid — proportional to *output* rows,
potentially 10-100× the input for sparse series — is generated LAST, as
a terminal per-row explode of each present row plus its trailing gap
run (``sequence`` up to the next present window). The pre-r8 shape
materialized the dense grid FIRST (per-key min/max aggregate + sequence
explode), shuffled it through a grid⨝rollup join and ran every window
function over the dense rows — at 21M output rows that was 3 window
passes and a join over 10.5M-row inputs where this runs them over 300k.
Output is row-identical (differential-tested, including null-value and
null-interp inputs).

Precondition (unchanged from the join formulation, where duplicates
would have fanned out instead): one row per (key, window_start), i.e. a
rollup-output frame, with grid-aligned whole-second window starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gmql_spark.operators.window_agg import TIER_DURATION, tier_step


def window_grid(rollup_df: DataFrame, tier: str = "1m", key: str = "conv_id") -> DataFrame:
    """Dense (key, window_start) grid spanning each key's min..max window."""
    step = F.expr(f"interval {TIER_DURATION[tier]}")
    return (
        rollup_df.groupBy(key)
        .agg(F.min("window_start").alias("w0"), F.max("window_start").alias("w1"))
        .select(
            key,
            F.explode(F.sequence(F.col("w0"), F.col("w1"), step)).alias("window_start"),
        )
    )


def gapfill(
    rollup_df: DataFrame,
    tier: str = "1m",
    key: str = "conv_id",
    value_col: str = "turn_count",
    interp_col: str | None = "latency_p50",
) -> DataFrame:
    """Dense series with ``is_gap`` flag, zero-filled ``value_col``, LOCF
    column ``{value_col}_locf`` and (when ``interp_col`` is given) a
    linearly interpolated ``latency_interp`` (nullable at edges / before
    the first and after the last known point)."""
    step_s = int(tier_step(tier).total_seconds())
    locf_name = f"{value_col}_locf"
    w = Window.partitionBy(key).orderBy("window_start")
    w_prev = w.rowsBetween(Window.unboundedPreceding, 0)
    w_next = w.rowsBetween(0, Window.unboundedFollowing)

    picked = [key, "window_start", value_col] + ([interp_col] if interp_col else [])
    d = (
        rollup_df.select(*picked)
        .withColumn("_ws_s", F.unix_timestamp("window_start"))
        .withColumn("_lead_s", F.lead("_ws_s").over(w))
        .withColumn("_locf", F.last(value_col, ignorenulls=True).over(w_prev))
    )
    v = F.col(value_col)
    # the zero literal takes coalesce(value, 0)'s result type so the
    # lead-generated gap rows type-match the former join formulation
    zero_t = d.select(F.coalesce(v, F.lit(0)).alias("_z")).schema["_z"].dataType
    zero = F.lit(0).cast(zero_t)

    if interp_col:
        iv = F.col(interp_col)
        known_ts = F.when(iv.isNotNull(), F.col("_ws_s"))
        d = (
            d.withColumn("_pv", F.last(interp_col, ignorenulls=True).over(w_prev))
            .withColumn("_pt", F.last(known_ts, ignorenulls=True).over(w_prev))
            .withColumn("_nv", F.first(interp_col, ignorenulls=True).over(w_next))
            .withColumn("_nt", F.first(known_ts, ignorenulls=True).over(w_next))
            # a gap row between this row and the next present row takes
            # its forward-looking bounds from the NEXT row
            .withColumn("_nv2", F.lead("_nv").over(w))
            .withColumn("_nt2", F.lead("_nt").over(w))
        )

    def _interp(at_s, pv, pt, nv, nt, cur=None):
        # same arithmetic as the dense-window formulation: fraction of
        # the prev->next span, long-subtracted then cast
        frac = (at_s - pt).cast("double") / (nt - pt).cast("double")
        out = F.when(
            pv.isNotNull() & nv.isNotNull(), pv + (nv - pv) * frac
        ).otherwise(F.lit(None).cast("double"))
        if cur is not None:
            out = F.when(cur.isNotNull(), cur).otherwise(out)
        return out

    def _present_struct():
        fields = [
            F.col("window_start").alias("window_start"),
            F.coalesce(v, zero).alias(value_col),
            v.isNull().alias("is_gap"),
            F.col("_locf").alias(locf_name),
        ]
        if interp_col:
            fields.append(
                _interp(
                    F.col("_ws_s"), F.col("_pv"), F.col("_pt"),
                    F.col("_nv"), F.col("_nt"), cur=F.col(interp_col),
                ).alias("latency_interp")
            )
        return F.struct(*fields)

    def _gap_struct(g):
        fields = [
            F.timestamp_seconds(g).alias("window_start"),
            zero.alias(value_col),
            F.lit(True).alias("is_gap"),
            F.col("_locf").alias(locf_name),
        ]
        if interp_col:
            fields.append(
                _interp(
                    g, F.col("_pv"), F.col("_pt"), F.col("_nv2"), F.col("_nt2")
                ).alias("latency_interp")
            )
        return F.struct(*fields)

    has_gap_run = F.col("_lead_s").isNotNull() & (
        F.col("_lead_s") - F.col("_ws_s") > F.lit(step_s)
    )
    gap_run = F.when(
        has_gap_run,
        F.sequence(
            F.col("_ws_s") + F.lit(step_s),
            F.col("_lead_s") - F.lit(step_s),
            F.lit(step_s),
        ),
    ).otherwise(F.expr("array()").cast("array<bigint>"))

    out_cols = ["window_start", value_col, "is_gap", locf_name] + (
        ["latency_interp"] if interp_col else []
    )
    return (
        d.select(
            key,
            F.explode(
                F.concat(F.array(_present_struct()), F.transform(gap_run, _gap_struct))
            ).alias("_g"),
        )
        .select(key, *[F.col(f"_g.{c}").alias(c) for c in out_cols])
    )
