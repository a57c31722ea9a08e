"""Structured Streaming variant of the tier rollup.

The reference has no streaming at all (spark-streaming is a declared but
unused dependency — GMQL-Spark/pom.xml; no streaming operator exists).
This module gives the engine an incremental-ingest path: the same
tumbling-window aggregate as the batch tiers, expressed over
``readStream`` with an event-time watermark for late turns. Every
streaming window aggregate — the three twins here and the
``streaming.materialize`` drain — is the batch core
``operators.window_agg.window_rollup`` behind one wrapper,
``_watermarked_rollup``, which drops null-``ts`` rows and adds the
watermark.

Semantics differences vs batch (documented, by construction):
- only mergeable aggregates (counts, histogram maps via the count_if
  fast path, min/max). lag()-derived gaps need ordered history a
  stream cannot replay, so latency stats require ingest-time
  ``precompute_gaps`` — with the gap column on the stream,
  ``stream_hist_rollup`` maintains the mergeable log₂ latency
  histogram incrementally;
- late rows beyond the watermark are dropped (batch reprocessing of the
  affected partitions — checkpoint.run_pipeline — is the repair path,
  the classic lambda split).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmql_spark.functions.aggregates import counts_map
from gmql_spark.operators.window_agg import TIER_DURATION, window_rollup


def _watermarked_rollup(
    stream: DataFrame,
    duration: str,
    aggs: Sequence[Column],
    keys: Sequence[str],
    ts: str,
    watermark: str,
) -> DataFrame:
    """``window_rollup`` over a stream: null-``ts`` rows dropped, then
    the event-time watermark. A null event time can never pass the
    watermark, so its window group would sit in state forever
    unemitted. One stateful aggregation, append-mode safe; the output
    schema is the batch ``window_rollup``'s."""
    return window_rollup(
        stream.filter(F.col(ts).isNotNull()).withWatermark(ts, watermark),
        duration,
        aggs,
        keys=keys,
        ts=ts,
    )


def stream_rollup(
    stream: DataFrame,
    tier: str = "1m",
    key: str = "conv_id",
    ts: str = "ts",
    watermark: str = "10 minutes",
    role_values: Sequence[str] | None = None,
    tool_values: Sequence[str] | None = None,
) -> DataFrame:
    """Event-time tumbling rollup over a streaming DataFrame.

    Output mode should be "append" (finalized windows only) or "update".
    Null-``ts`` rows are dropped (``_watermarked_rollup``).
    """
    return _watermarked_rollup(
        stream,
        TIER_DURATION[tier],
        [
            F.count(F.lit(1)).alias("turn_count"),
            counts_map(F.col("role"), role_values).alias("role_counts"),
            counts_map(F.col("tool"), tool_values).alias("tool_counts"),
            F.min(ts).alias("first_ts"),
            F.max(ts).alias("last_ts"),
        ],
        keys=[key],
        ts=ts,
        watermark=watermark,
    )


def stream_hist_rollup(
    stream: DataFrame,
    tier: str = "1m",
    keys: Sequence[str] = ("conv_id",),
    value_col: str = "gap_us",
    ts: str = "ts",
    watermark: str = "10 minutes",
    out: str = "lat_hist",
) -> DataFrame:
    """Streaming twin of ``functions.sketches.hist_rollup``: per-window
    mergeable log₂ latency histogram, append-mode safe.

    The batch version chains TWO groupBys (count per bucket, then
    assemble the map); a streaming append query wants ONE stateful
    aggregation, so the histogram is built as a fixed-domain row of
    conditional counts (``count_if(bucket == b)`` for b in −1..63 — the
    FULL bit_length range of a 64-bit value, fixed by the type so no
    value can fall outside the domain; same trick as the role/tool
    count maps) and folded into the map expression-side, with zero
    buckets dropped so the map equals the batch one exactly.

    ``value_col`` must already be on the stream (ingest-time
    ``precompute_gaps`` in catalog.write_transcripts): the batch path's
    lag() window needs ordered history a stream cannot replay — the
    same reason the module header scopes latency stats to batch unless
    gaps are precomputed.

    Rows with a null ``ts`` are dropped (``_watermarked_rollup``;
    batch hist_rollup emits such rows under a null window — a
    documented, deliberate divergence).
    """
    from gmql_spark.functions.sketches import log2_bucket

    keys = list(keys)
    counted = _watermarked_rollup(
        stream.filter(F.col(value_col).isNotNull())
        # bucket projected ONCE per row; 65 comparisons against the
        # column beat 65 copies of the conv() expression in the agg
        .withColumn("_bkt", log2_bucket(F.col(value_col))),
        TIER_DURATION[tier],
        [
            F.count(F.when(F.col("_bkt") == i, 1)).alias(f"_b{i}")
            for i in range(-1, 64)
        ],
        keys=keys,
        ts=ts,
        watermark=watermark,
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("key"),
                F.col(f"_b{i}").alias("value"),
            )
            for i in range(-1, 64)
        ]
    )
    return counted.select(
        *keys,
        "window_start",
        "window_end",
        F.map_from_entries(
            F.filter(entries, lambda e: e["value"] > 0)
        ).alias(out),
    )


def stream_hll_rollup(
    stream: DataFrame,
    tier: str = "1m",
    col: str = "tool",
    keys: Sequence[str] = ("conv_id",),
    ts: str = "ts",
    watermark: str = "10 minutes",
    lgk: int = 12,
    out: str = "hll",
) -> DataFrame:
    """Streaming twin of ``functions.sketches.hll_rollup``: per-window
    DataSketches HLL sketch (mergeable distinct count). Already a
    single aggregation batch-side, so the stream form is the same agg
    under a watermark; the sketch buffer lives in the state store and
    the emitted binary unions downstream exactly like a batch-built
    one (register max is associative/commutative). Null-``ts`` rows
    are dropped (``_watermarked_rollup``)."""
    return _watermarked_rollup(
        stream.filter(F.col(col).isNotNull()),
        TIER_DURATION[tier],
        [F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias(out)],
        keys=list(keys),
        ts=ts,
        watermark=watermark,
    )
