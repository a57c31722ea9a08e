"""Real-time continuous aggregates: serve closed windows from the
materialized tier, recompute the ragged tail from raw.

The TimescaleDB "real-time aggregate" pattern, recast over the engine's
retention tiers (north-rule: continuous aggregates materialized into
retention tiers). A range query at tier grain Δ is answered as

    tier rows with window_end <= frozen_until
    UNION ALL
    rollup(raw rows with ts >= floor(frozen_until, Δ))

which is exact — tumbling windows partition the time axis on the Δ
grid, so every raw row lands in exactly one of the two branches —
under the standard watermark contract: every raw row NOT yet reflected
in the tier has ``ts >= frozen_until``. ``refresh_tiers`` records the
refresh-time max event ts plus the fact-state version it covered in a
tiny manifest. That max alone is NOT a sound serving watermark:
``append_transcripts`` only enforces PER-CONVERSATION ordering, so a
new or lagging conversation appended after the refresh can land rows
below it. ``realtime_rollup`` therefore clamps the effective
``frozen_until`` to the min event ts of any append committed past the
covered version (``incremental.pending_append_min_us``) — every
un-reflected row has ts >= that clamp by construction, restoring the
contract without constraining ingest order.

Why this matters at scale: the tier is ~10³–10⁵× smaller than raw, and
the tail recompute scans at most one Δ of raw (partition-pruned by
``event_date``) — a dashboard query over a month of 1h points reads a
month of tier rows plus ≤1 hour of raw instead of re-scanning 100 TB.

GMQL has no materialization layer to compare against (its STORE is a
terminal write, ``GMQL-Core .../IRStoreRD``); the exactness oracle here
is a full recompute from raw, gated in ``__spark_entry__.queries()``
(`realtime_rollup`) and pytest-tested on the materialized incremental
path (stale tier + un-refreshed appended batch == one-shot rollup).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmql_spark.operators.window_agg import TIER_DURATION, tier_step, window_rollup
from gmql_spark.sources import catalog
from gmql_spark.sources.catalog import FACT_KEY, FACT_ORDER, FACT_TS

_WATERMARK_FILE = "_refresh_watermark.json"


def floor_to_tier(t: _dt.datetime, tier: str) -> _dt.datetime:
    """Largest Δ-grid point <= t (UTC grid, epoch-anchored — the same
    grid as ``F.window(ts, Δ)`` with no offset)."""
    step = tier_step(tier)
    epoch = _dt.datetime(1970, 1, 1)
    return epoch + (t.replace(tzinfo=None) - epoch) // step * step


def ceil_to_tier(t: _dt.datetime, tier: str) -> _dt.datetime:
    """Smallest Δ-grid point >= t."""
    f = floor_to_tier(t, tier)
    return f if f == t.replace(tzinfo=None) else f + tier_step(tier)


def decompose_range(
    start: _dt.datetime, end: _dt.datetime
) -> list[tuple[str, _dt.datetime, _dt.datetime]]:
    """Split [start, end) into the maximal-coarseness tier segments:
    raw up to the first minute boundary, 1m windows up to the first
    hour, 1h up to the first day, whole 1d windows, then back down the
    right edge. Every tier segment is aligned to its grain on both ends
    (so tier windows with ``window_start`` in the segment lie wholly
    inside it), the segments partition [start, end) exactly, and there
    are at most 7 of them.

    This is how a dashboard query over an arbitrary range touches
    O(range/Δ_coarse) tier rows plus <2 minutes of raw instead of
    re-scanning raw — the hierarchical-rollup stitch GMQL's MAP cannot
    express (its STORE is terminal; no materialization algebra).
    """
    if end <= start:
        return []
    segs: list[tuple[str, _dt.datetime, _dt.datetime]] = []
    t = start.replace(tzinfo=None)
    end = end.replace(tzinfo=None)
    # ascending left edge
    for tier, coarser in (("raw", "1m"), ("1m", "1h"), ("1h", "1d")):
        hi = ceil_to_tier(t, coarser)
        if tier != "raw":
            hi = min(hi, floor_to_tier(end, tier))
        nxt = min(hi, end) if tier == "raw" else max(t, min(hi, end))
        if t < nxt:
            segs.append((tier, t, nxt))
            t = nxt
    # whole days
    nxt = max(t, floor_to_tier(end, "1d"))
    if t < nxt:
        segs.append(("1d", t, nxt))
        t = nxt
    # descending right edge
    for tier in ("1h", "1m"):
        nxt = max(t, floor_to_tier(end, tier))
        if t < nxt:
            segs.append((tier, t, nxt))
            t = nxt
    if t < end:
        segs.append(("raw", t, end))
    return segs


def _segments(
    start: _dt.datetime, end: _dt.datetime, frozen_until: _dt.datetime | None
) -> list[tuple[str, _dt.datetime, _dt.datetime]]:
    """``decompose_range(start, end)``; with ``frozen_until``, tier
    segments only up to ``floor(frozen_until, 1m)`` and raw past it."""
    if frozen_until is None:
        return decompose_range(start, end)
    end = end.replace(tzinfo=None)
    cap = min(max(floor_to_tier(frozen_until, "1m"), start.replace(tzinfo=None)), end)
    return decompose_range(start, cap) + ([("raw", cap, end)] if cap < end else [])


def stitch_range(
    tier_dfs: dict[str, DataFrame],
    raw: DataFrame,
    start: _dt.datetime,
    end: _dt.datetime,
    keys: Sequence[str],
    raw_aggs: Sequence,
    merge_aggs: Sequence,
    ts: str = "ts",
    frozen_until: _dt.datetime | None = None,
) -> DataFrame:
    """One aggregate row per key over an arbitrary [start, end) range,
    stitched from the coarsest tiers that fit (``decompose_range``).

    ``raw_aggs`` aggregate raw rows of the sub-minute edge segments;
    ``merge_aggs`` re-aggregate tier rows (and the final union) — they
    must be self-composable partials over their own output names
    (sum/min/max/count-as-sum), e.g. ``F.sum("n").alias("n")``. Exact
    for mergeable stats; percentiles want the lat_hist sketch columns.

    ``frozen_until``: the tiers' serving watermark when they may be
    STALE (un-refreshed appends) — the same contract as
    ``serve_realtime``. Tier rows are only trusted for windows ending
    at or before it: the range past ``floor(frozen_until, 1m)`` is
    answered from raw instead (every tier segment then ends <= the
    floor, so all its windows are fully frozen). Omitting it asserts
    the tiers reflect every raw row in range.

    Plan shape: ONE shuffle total for the tier side. Tier segments
    contribute raw tier rows (partition-prunable filter + projection —
    no per-segment aggregate: the final merge's map-side partial
    aggregation combines them before the single exchange, exactly the
    two-level combine a per-segment pre-agg would buy, minus ≤5 extra
    shuffles). Raw edge segments (<2 min of data, plus the
    post-watermark tail when ``frozen_until`` is set) are pre-agged to
    the merge-input shape — ``raw_aggs``' output names ARE
    ``merge_aggs``' input names by the self-composability contract —
    then union into the same final aggregate.
    """
    from functools import reduce

    keys = list(keys)
    segs = _segments(start, end, frozen_until)
    # the merge-input shape: keys + raw_aggs' output columns
    merge_cols = raw.limit(0).groupBy(*keys).agg(*raw_aggs).columns
    parts: list[DataFrame] = []
    for tier, s, e in segs:
        if tier == "raw":
            seg = raw.filter((F.col(ts) >= F.lit(s)) & (F.col(ts) < F.lit(e)))
            parts.append(seg.groupBy(*keys).agg(*raw_aggs))
        else:
            seg = tier_dfs[tier].filter(
                (F.col("window_start") >= F.lit(s)) & (F.col("window_start") < F.lit(e))
            )
            parts.append(seg.select(*merge_cols))
    if not parts:
        empty = raw.filter(F.lit(False))
        return empty.groupBy(*keys).agg(*raw_aggs)
    return (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy(*keys)
        .agg(*merge_aggs)
    )


def derive_tier_frames(
    raw: DataFrame,
    start: _dt.datetime,
    end: _dt.datetime,
    keys: Sequence[str],
    raw_aggs: Sequence,
    merge_aggs: Sequence,
    ts: str = "ts",
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Materialize the 1m/1h/1d tier frames for [start, end) IN MEMORY
    from a single range-pruned raw scan, for serve-over-derived paths
    (ad-hoc stitches with no on-disk tiers).

    Production stitches read ``refresh_tiers``' on-disk tier tables —
    each a partition-pruned parquet scan, so the ≤7 segment branches of
    ``stitch_range`` are cheap by construction. When the tiers are
    instead DERIVED in the same plan (tests, one-shot analyses), naive
    per-branch lineage re-runs the full scan→1m→1h→1d cascade once per
    segment (7× the work, ~16 exchanges). This helper restores the
    materialized shape: one raw scan filtered to [start, end), one 1m
    aggregate eagerly ``localCheckpoint``-ed (executor-local blocks, no
    lineage), then 1h/1d cascaded FROM the checkpointed 1m — every
    segment branch reads a tiny in-memory tier exactly like the on-disk
    path reads parquet.

    Range-pruning raw before the 1m rollup is exact for the stitch:
    ``decompose_range`` aligns every tier segment to its grain on both
    ends, so a window straddling ``start``/``end`` (the only windows a
    pre-filter can truncate) is never selected by any segment.

    Returns ``(raw_in_range, {"1m": ..., "1h": ..., "1d": ...})`` —
    pass both straight to ``stitch_range``. The checkpointed blocks are
    freed by Spark's ContextCleaner when the frames go out of scope.
    """
    raw_rng = raw.filter(
        (F.col(ts) >= F.lit(start.replace(tzinfo=None)))
        & (F.col(ts) < F.lit(end.replace(tzinfo=None)))
    )
    m1 = window_rollup(raw_rng, TIER_DURATION["1m"], aggs=raw_aggs, keys=keys, ts=ts)
    # lazy checkpoints (r8): the consumer's single action materializes
    # 1m then 1h exactly once and every segment branch reads the blocks,
    # same sharing as eager — without paying two serial driver jobs at
    # construction time
    m1 = m1.localCheckpoint(eager=False)
    h1 = window_rollup(
        m1, TIER_DURATION["1h"], aggs=merge_aggs, keys=keys, ts="window_start"
    ).localCheckpoint(eager=False)
    d1 = window_rollup(h1, TIER_DURATION["1d"], aggs=merge_aggs, keys=keys, ts="window_start")
    return raw_rng, {"1m": m1, "1h": h1, "1d": d1}


def serve_realtime(
    tier_df: DataFrame,
    raw: DataFrame,
    frozen_until: _dt.datetime,
    tier: str,
    recompute: Callable[[DataFrame], DataFrame],
    ts: str = "ts",
) -> DataFrame:
    """The routing algebra: closed windows from the tier, the rest
    recomputed from raw.

    ``tier_df`` must already be in the query's output schema (with
    ``window_start``/``window_end``); ``recompute(tail_raw)`` must
    produce the identical schema. A window is served from the tier iff
    ``window_end <= frozen_until``; the raw tail starts at
    ``floor(frozen_until, Δ)`` — the start of the first window that is
    not fully frozen. The tail filter is a plain ``ts >=`` predicate,
    so it prunes raw's date partitions and pushes into the scan. The
    result has the tail's column order.
    """
    boundary = floor_to_tier(frozen_until, tier)
    served = tier_df.filter(F.col("window_end") <= F.lit(frozen_until))
    tail = recompute(raw.filter(F.col(ts) >= F.lit(boundary)))
    return served.select(*tail.columns).unionByName(tail)


def stitch_transcripts(
    spark: SparkSession,
    fact_path: str,
    tiers_dir: str,
    start: _dt.datetime,
    end: _dt.datetime,
    realtime: bool = False,
) -> DataFrame:
    """Transcript-schema stitch over materialized tiers: one row per
    conversation with the mergeable stats (turn_count, latency_cnt/sum,
    first/last ts) for an arbitrary [start, end).

    Latency semantics match the tiers: each turn carries its
    ingest-time ``gap_us`` (gap to the previous turn, which may precede
    the range) — identical attribution on the tier and raw-edge sides,
    so the stitch is exact vs a one-pass aggregate of fact rows in
    range.

    ``realtime=True``: stay exact when the tiers are STALE — the range
    past the recorded refresh watermark (clamped by pending appends,
    ``incremental.pending_append_min_us``, exactly like
    ``realtime_rollup``) is answered from raw instead of tier rows.
    The default trusts the tiers for the whole range (a refresh after
    every append, e.g. ``streaming.stream_ingest``).

    Only the date leaves the segments cover are listed and read, so the
    listing does not grow with the tables' age (tier tables without a
    refresh manifest, ``run_pipeline``'s, are read whole)."""
    frozen = _serving_watermark(fact_path, tiers_dir) if realtime else None
    segs, us = _segments(start, end, frozen), _dt.timedelta(microseconds=1)

    def dates(tier: str) -> Callable[[str], bool]:  # those of its segments
        days = [(str(s.date()), str((e - us).date())) for t, s, e in segs if t == tier]
        return lambda d: any(lo <= d <= hi for lo, hi in days)

    dated = read_refresh_manifest(tiers_dir) is not None
    tier_dfs = {
        t: _read_tier(spark, tiers_dir, t, dates(t) if dated else None)
        for t in {t for t, _, _ in segs} - {"raw"}
    }
    raw = catalog.read_fact_leaves(spark, fact_path, dates=dates("raw"))
    raw_aggs = [
        F.count(F.lit(1)).alias("turn_count"),
        F.count("gap_us").alias("latency_cnt"),
        F.sum("gap_us").alias("latency_sum_us"),
        F.min(FACT_TS).alias("first_ts"),
        F.max(FACT_TS).alias("last_ts"),
    ]
    merge_aggs = [
        F.sum("turn_count").alias("turn_count"),
        F.sum("latency_cnt").alias("latency_cnt"),
        F.sum("latency_sum_us").alias("latency_sum_us"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    ]
    return stitch_range(
        tier_dfs, raw, start, end, keys=[FACT_KEY],
        raw_aggs=raw_aggs, merge_aggs=merge_aggs, ts=FACT_TS, frozen_until=frozen,
    )


# ------------------------------------------------- materialized path

def record_refresh_watermark(
    out_dir: str, watermark_us: int, covered_dates: dict | None = None
) -> int:
    """Advance (never regress) the tiers' refresh watermark and the
    per-DATE coverage map (date -> state version at that date's last
    refresh — what lets ``incremental.pending_append_min_us`` keep
    partially-refreshed appends pending); returns the recorded
    watermark. Called by ``incremental.refresh_tiers``."""
    os.makedirs(out_dir, exist_ok=True)
    path = f"{out_dir}/{_WATERMARK_FILE}"
    prev = read_refresh_manifest(out_dir) or {}
    wm = max(watermark_us, prev.get("watermark_us") or watermark_us)
    dates = dict(prev.get("covered_dates") or {})
    for d, v in (covered_dates or {}).items():
        d = str(d)
        dates[d] = max(dates[d], v) if d in dates else v
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"watermark_us": wm, "covered_dates": dates}, f)
    os.replace(tmp, path)
    return wm


def read_refresh_manifest(out_dir: str) -> dict | None:
    """{"watermark_us": int, "covered_dates": {date: version}} or None."""
    path = f"{out_dir}/{_WATERMARK_FILE}"
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def read_refresh_watermark(out_dir: str) -> int | None:
    man = read_refresh_manifest(out_dir)
    return man["watermark_us"] if man else None


def _serving_watermark(fact_path: str, tiers_dir: str) -> _dt.datetime:
    """The tiers' refresh watermark, clamped by the min event ts of any
    append no refresh covers (``incremental.pending_append_min_us``)."""
    from gmql_spark.incremental import pending_append_min_us

    man = read_refresh_manifest(tiers_dir)
    if man is None:
        raise ValueError(
            f"no refresh watermark recorded under {tiers_dir} — "
            "refresh_tiers has never run"
        )
    wm = man["watermark_us"]
    pending = pending_append_min_us(fact_path, man)
    if pending is not None:
        wm = min(wm, pending)
    return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=wm)


def _read_tier(spark: SparkSession, tiers_dir: str, tier: str, dates=None) -> DataFrame:
    """Tier ``tier``'s table without its partition columns (no job):
    the ``window_date`` leaves ``dates`` accepts, every leaf without."""
    where = {} if dates is None else {catalog.TIER_DATE: dates}
    return catalog.read_table(spark, catalog.tier_table(tiers_dir, tier), **where).drop(
        catalog.TIER_DATE, catalog.TIER_BUCKET
    )


def realtime_rollup(
    spark: SparkSession,
    fact_path: str,
    tiers_dir: str,
    tier: str = "1h",
    frozen_until: _dt.datetime | None = None,
) -> DataFrame:
    """Exact tier-grain rollup over everything ingested so far, even
    when the materialized tiers are stale (appends since the last
    ``refresh_tiers``).

    ``frozen_until`` defaults to the tiers' recorded refresh watermark
    CLAMPED by the min event ts of any append not yet covered by a
    refresh (``incremental.pending_append_min_us``) — the sound serving
    boundary when ingest is only per-conversation ordered (a lagging or
    brand-new conversation may append rows below the refresh-time max).
    Passing ``frozen_until`` explicitly bypasses the clamp; the caller
    then owns the contract that the tier reflects every raw row below
    it. The raw tail is read with the stored ingest-time ``gap_us``
    (the incremental fact layout), so cross-boundary latency gaps are
    exact without any raw-scale window pass, and only the fact leaves
    of event dates from the tail's first window on are listed and read
    (``sources.catalog.read_fact_leaves``); if the fact table lacks
    ``gap_us`` the whole table is opened and the gaps are derived over
    the full raw first (exact, one extra shuffle) before the tail
    filter. The tier table is read whole: every closed window is served,
    with the table's sketch columns, which the tail recomputes alike.
    """
    from gmql_spark.operators.rollup import rollup, with_gap_seconds

    if frozen_until is None:
        frozen_until = _serving_watermark(fact_path, tiers_dir)
    mode = catalog.sketch_mode(catalog.tier_table(tiers_dir, tier)) or False
    tier_df = _read_tier(spark, tiers_dir, tier)
    if {"gap_us", "event_date"} <= set(catalog.columns(fact_path) or ()):
        # stored gaps: only the leaves of the tail's event dates are read
        day = str(floor_to_tier(frozen_until, tier).date())
        raw = catalog.read_fact_leaves(spark, fact_path, dates=lambda d: d >= day)
    else:
        raw = with_gap_seconds(
            catalog.read_fact_leaves(spark, fact_path), key=FACT_KEY, order=FACT_ORDER, ts=FACT_TS
        )

    def recompute(tail: DataFrame) -> DataFrame:
        return rollup(tail, tier, key=FACT_KEY, ts=FACT_TS, with_sketches=mode)

    return serve_realtime(tier_df, raw, frozen_until, tier, recompute, ts=FACT_TS)
