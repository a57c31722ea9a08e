"""Tumbling-window rollups + retention-tier cascade.

This is the recast of GMQL's MAP operator (``IRGenometricMap``,
``IROperators.scala:378-380``; Spark impl
``GenometricMap71.scala:23-203``): the reference bins regions, joins
ref×exp by (bin, chrom) with replication, and runs per-column aggregates
with a two-level combine (in-bin reduce then ``reduceByKey`` across bins,
``GenometricMap71.scala:110-123``). For tumbling event-time windows no
join is needed at all: ``groupBy(conv_id, window(ts, Δ))`` *is* the
binning, and Catalyst's hash aggregate *is* the two-level
partial/final combine.

Scale notes:
- one tier builder (``_build_tiers``) decides how every tier is built,
  for ``rollup``, ``rollup_all_tiers``, ``checkpoint.run_pipeline`` and
  ``incremental.refresh_tiers`` alike, and returns its tiers as one
  frame with a ``tier`` column. The tiers are one fused pass over one
  scan of the gap frame: a generator emits each row once per tier, with
  its window in that tier, and the rows are grouped by (key, tier,
  window) — one exchange + sort + aggregate for all of them and no
  joins, open category domains and sketches included (a second
  aggregate stage on the same partitioning builds their maps,
  ``lat_hist`` and ``tool_hll`` from counted rows, MAP's two-level
  combine). The exact-percentile contract forces a raw-scale sort
  anyway, and the fused pass computes every mergeable stat inside it.
  ``run_pipeline`` and ``refresh_tiers`` build all tiers in one call
  (one plan, one write); ``rollup_all_tiers`` passes one tier at a
  time. Catalyst (Spark 4.1) pushes a ``tier == t`` filter on an
  all-tier frame down to the generator's output, below the exchange, so
  only that tier's rows are shuffled, and its rows equal
  ``rollup(raw, t)``'s, with or without sketches. The per-tier builds
  stay for a measured reason (668,525 turns, bench.py's
  persist/unpersist protocol): the ``tier`` group key raised warm
  executor CPU from 11.3–12.4 s to 12.9–13.8 s.
- percentiles are exact, from one rank + hash-agg + lerp kernel
  (``_ranked_percentiles``, shared by ``rollup`` and
  ``exact_percentiles``) — NOT the built-in ``percentile`` aggregate,
  whose ObjectHashAggregate falls back to sort-based object aggregation
  past 128 groups/partition.
- only the t-digest column (``with_sketches="digest"``) cascades: a
  coarser tier merges the finer tier's digests, tier-sized rows, since
  rebuilding them from raw per tier would re-scan raw through Arrow.
  ``tool_hll`` is built from raw at every tier; its estimate equals
  the cascaded union's, its bytes need not.
- ``cascade_rollup`` (GSL ``CASCADE``) is one merge pass: one explode
  of each finer row over the tagged entries of all its maps, one
  ``window_rollup`` stage per (key, map, category, window), one
  group-by per (key, window); no join but ``lat_digest``'s. Over a
  finer frame partitioned by key neither stage shuffles, so an
  unpersisted GSL chain raw → 1m → 1h → 1d plans one exchange; a
  persisted or stored finer tier costs two. It and the sketches' own
  window group-bys go through the engine's one window-aggregate core
  (``operators.window_agg``). Only the builder's fused pass keeps its
  own window column (``_w``), so the rank window and both aggregate
  stages share one (key, tier, window) partitioning.
- the lag window for ``gap_s`` is one shuffle by key; a table written
  with ingest-time gaps (``catalog.write_transcripts(precompute_gaps=
  True)``) skips it.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import timedelta
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gmql_spark.functions.aggregates import known_counts_map
from gmql_spark.operators.window_agg import TIER_DURATION, tier_step, window_rollup

PCTS = (0.50, 0.95, 0.99)
PCT_NAMES = ("latency_p50", "latency_p95", "latency_p99")

# input_hint defines a closed role domain; known categories keep the
# histogram aggregate in pure count_if codegen (no collect_list /
# ObjectHashAggregate on raw-scale data). Tools are an open set by
# default -> two-stage counts (hash count first, tiny object agg after).
DEFAULT_ROLES = ("user", "assistant", "system", "tool")


def with_gap_seconds(
    df: DataFrame,
    key: str = "conv_id",
    order: str | Sequence[str] = "turn_idx",
    ts: str = "ts",
) -> DataFrame:
    """Add ``gap_s``: seconds since the previous turn of the conversation
    (stable order = turn_idx), null for the first turn.

    Computed in integer microseconds first (``unix_micros``) so the double
    result is bit-identical to the pandas/DuckDB oracles.

    Idempotent: if the input already carries ``gap_us`` (e.g. the fact
    table was written with ingest-time gap precomputation,
    ``catalog.write_transcripts(precompute_gaps=True)``), the window
    pass — a full sort shuffle of raw — is skipped entirely."""
    if "gap_us" in df.columns:
        if "gap_s" not in df.columns:
            df = df.withColumn("gap_s", F.col("gap_us") / F.lit(1e6))
        return df
    order_cols = [order] if isinstance(order, str) else list(order)
    w = Window.partitionBy(key).orderBy(*order_cols)
    us = F.unix_micros(F.col(ts))
    return df.withColumn("gap_us", us - F.lag(us).over(w)).withColumn(
        "gap_s", F.col("gap_us") / F.lit(1e6)
    )


def rollup(
    df: DataFrame,
    tier: str = "1m",
    key: str = "conv_id",
    ts: str = "ts",
    role_values: Sequence[str] | None = DEFAULT_ROLES,
    tool_values: Sequence[str] | None = None,
    with_sketches: bool | str = False,
) -> DataFrame:
    """Direct rollup of raw transcripts to one retention tier.

    Output grain: (key, window_start). Columns: turn_count,
    role_counts/tool_counts (map<string,bigint>), exact latency
    percentiles p50/p95/p99 over inter-turn gaps, latency_cnt/sum,
    first_ts/last_ts. A frame that already carries ``gap_us`` (stored
    ingest-time gaps, or ``with_gap_seconds`` output) keeps it; its lag
    window is skipped.

    ``with_sketches=True`` additionally stores two *mergeable* sketches
    per tier row (``functions.sketches``): ``lat_hist`` (log₂ gap_us
    histogram, exact tier→tier merge, bounded-error percentile
    extraction) and ``tool_hll`` (HLL distinct-tool sketch). They let a
    coarser tier answer percentile/distinct questions from the finer
    tier alone — no raw re-scan, the expensive part of a tier build at
    warehouse scale. ``with_sketches="digest"`` additionally stores
    ``lat_digest`` (t-digest of gap_us, ``functions.tdigest``) — the
    tighter-error mergeable percentile sketch (<1% cascaded vs the
    histogram's 2×-of-bin-width); its serving accuracy is exact-gated
    by the ``percentile_digest_ok`` board query.

    Category histograms: known value lists compile to count_if columns
    (whole-stage codegen); None -> a second aggregate stage (hash count
    per (key, window, category), then the map assembly over those
    counted rows) so no object aggregate ever runs over raw-scale data.

    This is the tier builder (``_build_tiers``) for one tier: one
    exchange + sort + aggregate by (key, window), no joins — sketches
    included; ``lat_digest`` adds the t-digest build and one join.
    """
    return _build_tiers(
        with_gap_seconds(df, key=key, ts=ts), None, (tier,), key=key, ts=ts,
        role_values=role_values, tool_values=tool_values, with_sketches=with_sketches,
    ).drop("tier")


SKETCH_COLS = ["lat_hist", "tool_hll"]


def cascade_rollup(finer: DataFrame, tier: str, key: str = "conv_id") -> DataFrame:
    """Re-aggregate a finer tier to a coarser one for all *mergeable*
    stats (counts, histogram maps, min/max, sums, ``lat_hist``,
    ``tool_hll``). Percentiles are not mergeable and are absent from the
    result — join in ``exact_percentiles`` (exact-from-raw, see
    ``_build_tiers``) or accept sketches.

    One merge pass, GMQL MAP's two-level combine: each finer row is
    exploded once over the entries of all its maps (``role_counts``,
    ``tool_counts``, ``lat_hist``), each entry tagged with its map's
    name and its category cast to string; stage A (``window_rollup``
    over (key, map, category, window)) sums the entry counts and carries
    the row's scalars and ``tool_hll`` on one row per finer row; stage B
    groups per (key, window), merges the scalars and assembles each map
    from its tagged rows, sorted by category. A null map contributes no
    entries, a map without entries is ``{}``, a window without tool
    sketches keeps a null ``tool_hll``. Both stages group by ``key``
    among their keys, so over a finer frame already partitioned by key
    (a ``rollup`` or a cascade in the same plan) they add no exchange;
    over a persisted or stored one, one exchange each. ``lat_digest``
    is merged by ``tdigest_cascade`` and left-joined.

    Composition laws verified by tests: sum∘count = count, map-merge of
    value-counts = value-counts of union, min∘min, max∘max.
    """
    def hll_union(c: str) -> Column:  # a window without tools gets no sketch
        return F.when(F.count(c) > 0, F.hll_union_agg(c))

    maps = ["role_counts", "tool_counts"]
    merges = {
        "turn_count": F.sum,
        "latency_cnt": F.sum,
        "latency_sum_us": F.sum,
        "first_ts": F.min,
        "last_ts": F.max,
    }
    sketches = "lat_hist" in finer.columns
    if sketches:
        maps.append("lat_hist")
        merges["tool_hll"] = hll_union

    def tagged(m: str) -> Column:  # a null map contributes no entries
        entries = F.transform(
            F.map_entries(m),
            lambda e: F.struct(
                F.lit(m).alias("_m"), e["key"].cast("string").alias("_c"),
                e["value"].alias("_n"),
            ),
        )
        return F.coalesce(entries, F.array())

    def assembled(m: str) -> Column:
        cat = F.col("_c").cast("int") if m == "lat_hist" else F.col("_c")
        entry = F.when(F.col("_m") == m, F.struct(cat.alias("_c"), "_n"))
        return F.map_from_entries(F.array_sort(F.collect_list(entry))).alias(m)

    exploded = finer.select(
        key, "window_start", *merges,
        F.posexplode_outer(F.concat(*[tagged(m) for m in maps])).alias("_pos", "_e"),
    )
    first = F.coalesce(F.col("_pos") == 0, F.lit(True))  # one row per finer row
    entries = window_rollup(
        exploded.select(
            key, "window_start", "_e.*",
            *[F.when(first, F.col(c)).alias(c) for c in merges],
        ),
        TIER_DURATION[tier],
        [F.sum("_n").alias("_n"), *[agg(c).alias(c) for c, agg in merges.items()]],
        keys=[key, "_m", "_c"],
        ts="window_start",
    )
    out = entries.groupBy(key, "window_start", "window_end").agg(
        *[agg(c).alias(c) for c, agg in merges.items()],
        *[assembled(m) for m in maps],
    )
    sketch_cols = list(SKETCH_COLS) if sketches else []
    if "lat_digest" in finer.columns:
        from gmql_spark.functions.tdigest import tdigest_cascade

        dsrc = finer.filter(F.col("lat_digest").isNotNull()).select(
            key, "window_start", "lat_digest.*"
        )
        dig = tdigest_cascade(dsrc, tier, keys=[key]).select(
            key,
            "window_start",
            F.struct("means", "weights", "vmin", "vmax").alias("lat_digest"),
        )
        out = out.join(dig, on=[key, "window_start"], how="left")
        sketch_cols = sketch_cols + ["lat_digest"]
    return out.select(
        key,
        "window_start",
        "window_end",
        "turn_count",
        "role_counts",
        "tool_counts",
        "latency_cnt",
        "latency_sum_us",
        "first_ts",
        "last_ts",
        *sketch_cols,
    )


def _ranked_percentiles(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    pcts: Sequence[float],
    names: Sequence[str],
    aggs: Sequence[Column] = (),
    within: Sequence[str] = (),
    merge: Sequence[Column] = (),
) -> DataFrame:
    """The one exact-percentile kernel: ``aggs`` plus exact percentiles
    of ``value`` per ``keys`` group, in one hash aggregate. Output
    columns: ``keys``, ``names``, then the ``aggs`` columns.

    Implemented as sort + rank + plain hash aggregate, NOT Spark's
    ``percentile`` aggregate: the built-in is a TypedImperativeAggregate
    (ObjectHashAggregate) that falls back to slow sort-based object
    aggregation beyond 128 groups per partition — catastrophic at
    millions of (conv, window) groups. Here:

      rank values within the group [one Tungsten sort, on the group's
      own hash partitioning — no extra exchange] →
      max(when(rn == lo/hi)) per percentile in the codegen hash agg →
      lo_v*(hi-pos) + hi_v*(pos-lo), pos = p*(n-1)

    — the weighted interpolation that is bit-identical to the
    pandas/DuckDB oracles. Null values rank last and are not counted in
    n: the k non-null values rank 0..k−1 and lo/hi are ≤ k−1, so rows
    with a null ``value`` may ride along (and feed ``aggs``) without
    changing any percentile.

    With ``within`` columns the aggregate runs in two stages, both on
    the rank's one hash partitioning by ``keys``: ``aggs`` and the rank
    picks per (``keys``, ``within``) subgroup, then ``merge`` (which
    reads ``aggs``' columns) and the max of each pick per ``keys``
    group. Exactly one row of a group holds each rank, so the max over
    its subgroups is that row's value. The output then carries
    ``merge``'s columns in place of ``aggs``'."""
    w = Window.partitionBy(*keys)
    d = df.withColumn(
        "_rn", F.row_number().over(w.orderBy(F.col(value).asc_nulls_last())) - 1
    ).withColumn("_n", F.count(value).over(w))

    def bounds(p: float, n: Column) -> tuple[Column, Column, Column]:
        pos = F.lit(p) * (n - 1)
        return pos, F.floor(pos).cast("long"), F.ceil(pos).cast("long")

    pct_aggs = [F.max("_n").alias("_n")]
    for i, p in enumerate(pcts):
        _pos, lo, hi = bounds(p, F.col("_n"))
        pct_aggs += [
            F.max(F.when(F.col("_rn") == lo, F.col(value))).alias(f"_lov{i}"),
            F.max(F.when(F.col("_rn") == hi, F.col(value))).alias(f"_hiv{i}"),
        ]
    agged = d.groupBy(*keys, *within).agg(*aggs, *pct_aggs)
    if within:
        picks = agged.columns[len(keys) + len(within) + len(aggs) :]
        agged = agged.groupBy(*keys).agg(*merge, *[F.max(c).alias(c) for c in picks])
        aggs = merge
    pct_cols = []
    for i, (p, name) in enumerate(zip(pcts, names)):
        pos, lo, hi = bounds(p, F.col("_n"))
        lo_v, hi_v = F.col(f"_lov{i}"), F.col(f"_hiv{i}")
        pct_cols.append(
            F.when(lo == hi, lo_v)
            .otherwise(lo_v * (hi - pos) + hi_v * (pos - lo))
            .alias(name)
        )
    extra = agged.columns[len(keys) : len(keys) + len(aggs)]
    return agged.select(*keys, *pct_cols, *extra)


def exact_percentiles(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    pcts: Sequence[float] = PCTS,
    names: Sequence[str] = PCT_NAMES,
    extra_aggs: Sequence[Column] = (),
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact percentiles of ``value`` per key group, through the same
    rank + hash-agg + lerp kernel as ``rollup`` (``_ranked_percentiles``),
    for arbitrary groupings (EXTEND/AggregateRD recast,
    ``AggregateRD.scala:17-53``; Q1/Q2/Q3 builtins
    ``DefaultRegionsToMetaFactory.scala:12-290``). A tier's percentiles
    are ``exact_percentiles`` over ``(key, window(ts).start)``.

    Interpolation is ``lo_v*(hi-pos) + hi_v*(pos-lo)`` — bit-identical to
    the DuckDB/pandas oracles, unlike the built-in ``F.percentile`` whose
    ``lo + d*(hi-lo)`` form differs by an ulp on some inputs AND plans an
    ObjectHashAggregate (sort-based fallback past 128 groups/partition).
    Null values are skipped (GMQL aggregate null-skip semantics).

    ``extra_aggs`` (r8): additional aggregates computed INSIDE the same
    groupBy (over the null-filtered rows), so callers that previously
    paid a separate base aggregate + join share this pass's single
    exchange+sort; ``extra_cols`` lists any additional input columns
    they reference."""
    keys = list(keys)
    g = df.filter(F.col(value).isNotNull()).select(*keys, value, *extra_cols)
    return _ranked_percentiles(g, keys, value, pcts, names, extra_aggs)


def _tier_columns(df: DataFrame, key: str) -> DataFrame:
    """A tier frame's columns, in their stored order (sketches if any)."""
    sketch_cols = [c for c in (*SKETCH_COLS, "lat_digest") if c in df.columns]
    return df.select(
        "tier",
        key,
        "window_start",
        "window_end",
        "turn_count",
        "role_counts",
        "tool_counts",
        *PCT_NAMES,
        "latency_cnt",
        "latency_sum_us",
        "first_ts",
        "last_ts",
        *sketch_cols,
    )


def _tier_window(ts: str, tier: str) -> Column:
    """The window that ``window(ts, TIER_DURATION[tier])`` puts a
    non-null ``ts`` in, as a ``start``/``end`` struct computed from
    ``unix_micros(ts)``: ``start = us - pmod(us, Δ)``, which floors
    pre-1970 times too. Unlike ``window()``, any number of them fit in
    one projection."""
    step = tier_step(tier) // timedelta(microseconds=1)
    us = F.unix_micros(F.col(ts))
    start = us - F.pmod(us, F.lit(step))
    return F.struct(
        F.timestamp_micros(start).alias("start"),
        F.timestamp_micros(start + step).alias("end"),
    )


def _build_tiers(
    raw_g: DataFrame,
    finer: DataFrame | None,
    tiers: Sequence[str],
    key: str,
    ts: str,
    role_values: Sequence[str] | None,
    tool_values: Sequence[str] | None,
    with_sketches: bool | str,
) -> DataFrame:
    """How tiers are built — the one place that decides, for every tier
    path (``rollup``, ``rollup_all_tiers``, ``checkpoint.run_pipeline``,
    ``incremental.refresh_tiers``). Returns the rows of every tier in
    ``tiers`` as one frame with a leading ``tier`` column. ``raw_g`` is
    the raw frame with its gap columns (``with_gap_seconds``); ``finer``
    is the next-finer tier's frame or None, read only for its
    ``lat_digest``.

    Every tier, in every sketch mode, is one fused pass over one scan of
    ``raw_g``: one generator emits each row once per tier, as a ``tier``
    literal and its window ``_w`` in that tier (``_tier_window``; one
    tier is a plain projection), and the rows are ranked by gap within
    (key, tier, _w) — the tier only when there are several — and
    aggregated on that one hash partitioning: one exchange, no join,
    for every stat, map, sketch and exact percentile of every tier.
    Rows without a ``ts`` are dropped, as ``window()`` drops them.
    With open category domains (``role_values``/``tool_values`` None)
    or sketches the aggregate has two stages, GMQL MAP's in-bin reduce
    then merge (``_ranked_percentiles(within=...)``): stage A counts per
    (key, tier, _w, open categories) subgroup — sketches add ``tool``
    and the log₂ gap bucket ``_b`` — and stage B sums, mins and maxes
    those rows per (key, tier, _w), assembles each open map and
    ``lat_hist`` from them (``_open_counts_map``) and builds ``tool_hll``
    over their tools, so no object aggregate reads raw rows. Known
    categories are one ``count_if`` column each, their maps assembled
    after the aggregate (``known_counts_map``). Null gaps stay in (they
    count as turns); the kernel's nulls-last rank keeps the percentiles
    equal to a null-filtered pass.

    ``lat_digest`` (``with_sketches="digest"``) is the one column that
    cascades: the first tier's digests are merged from ``finer``'s, or
    built from raw without it (``tdigest_rollup``), each later tier
    merges the one before (``tdigest_cascade``), and the digests of
    every tier are left-joined once at (key[, tier], window_start).
    Cascaded digests are not the digests a rebuild from raw would give,
    and a rebuild per tier would re-scan raw through Arrow."""
    from gmql_spark.functions.sketches import log2_bucket
    from gmql_spark.functions.tdigest import tdigest_cascade, tdigest_rollup

    # window() drops a row without a time; the tier bounds would not
    raw_g = raw_g.filter(F.col(ts).isNotNull())
    if with_sketches:  # the log₂ gap bucket lat_hist counts
        raw_g = raw_g.withColumn("_b", log2_bucket(F.col("gap_us")))
    if len(tiers) == 1:
        d = raw_g.withColumn("_w", _tier_window(ts, tiers[0]))
    else:  # one row per (raw row, tier), all from one scan of raw
        d = raw_g.select("*", F.inline(F.array(*[
            F.struct(F.lit(t).alias("tier"), _tier_window(ts, t).alias("_w"))
            for t in tiers
        ])))
    cats = {"role": role_values, "tool": tool_values}
    split = [c for c, vals in cats.items() if vals is None]  # the open domains
    within = split + [c for c in ("tool", "_b") if with_sketches and c not in split]
    sketches = [
        _open_counts_map("_b", within).alias("lat_hist"),
        # a window without tools gets no sketch, not an empty one
        F.when(F.count("tool") > 0, F.hll_sketch_agg("tool", 12)).alias("tool_hll"),
    ] if with_sketches else []

    def total(c: str) -> Column:  # a sum of counts is never null
        return F.coalesce(F.sum(c), F.lit(0).cast("long"))

    # stat -> (aggregate over the rows, its merge over the open-domain
    # subgroups); known categories are counted one count_if column each
    stats = {
        "turn_count": (F.count(F.lit(1)), total),
        "latency_cnt": (F.count("gap_s"), total),
        # exact integer-µs sum: order-independent across partial aggs AND
        # across tier cascades (long addition is associative; double is not)
        "latency_sum_us": (F.sum("gap_us"), F.sum),
        "first_ts": (F.min(ts), F.min),
        "last_ts": (F.max(ts), F.max),
    }
    for c, vals in cats.items():
        for i, v in enumerate(vals or ()):
            stats[f"_{c}{i}"] = (F.count_if(F.col(c) == F.lit(v)), total)
    # the tier is a group key only when there are several: a constant
    # key would change the hash partitioning of a single tier's rows,
    # and so its plan
    keys = [key, "tier"] if len(tiers) > 1 else [key]
    groups = [*keys, "_w"]
    agged = _ranked_percentiles(
        d, groups, "gap_s", PCTS, PCT_NAMES,
        [agg.alias(name) for name, (agg, _) in stats.items()],
        within=within,
        # the maps read the subgroup counts, so they come before the
        # merged turn_count that shadows them
        merge=[
            *[_open_counts_map(c, within).alias(f"{c}_counts") for c in split],
            *sketches,
            *[m(name).alias(name) for name, (_, m) in stats.items()],
        ],
    )
    maps = {
        f"{c}_counts": F.col(f"{c}_counts")
        if vals is None
        else known_counts_map(vals, [F.col(f"_{c}{i}") for i in range(len(vals))])
        for c, vals in cats.items()
    }
    out = agged.select(
        *keys,
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        *[F.col(c) for c in stats if not c.startswith("_")],
        *PCT_NAMES,
        *[m.alias(name) for name, m in maps.items()],
        *[c for c in SKETCH_COLS if with_sketches],
    )
    if with_sketches == "digest":
        digs = [
            tdigest_rollup(raw_g, tiers[0], keys=[key], value_col="gap_us", ts=ts)
            if finer is None
            else tdigest_cascade(
                finer.filter(F.col("lat_digest").isNotNull()).select(
                    key, "window_start", "lat_digest.*"
                ),
                tiers[0], keys=[key],
            )
        ]
        for t in tiers[1:]:
            digs.append(tdigest_cascade(digs[-1], t, keys=[key]))
        dig = reduce(
            DataFrame.unionByName,
            [g.withColumn("tier", F.lit(t)) for t, g in zip(tiers, digs)],
        ).select(
            *keys, "window_start",
            F.struct("means", "weights", "vmin", "vmax").alias("lat_digest"),
        )
        out = out.join(dig, on=[*keys, "window_start"], how="left")
    if len(tiers) == 1:
        out = out.withColumn("tier", F.lit(tiers[0]))
    return _tier_columns(out, key)


def _open_counts_map(cat: str, split: Sequence[str]) -> Column:
    """Merge aggregate of an open-domain ``cat -> count`` map over the
    counted rows of ``_build_tiers``' first stage, one row per
    (key, tier, window, ``split`` values) subgroup carrying its count
    ``turn_count``. Null categories are skipped, so a window without any
    gets the empty map; entries are sorted by category. Another column
    in ``split`` repeats a category's entries across its values;
    they are summed per category first (a higher-order fold over the
    window's entry array). The values are nullable, as in the tier
    tables on disk: ``nullif(n, 0)`` keeps every count (a counted row
    counts ≥ 1) but not the non-null type."""
    n = F.nullif(F.col("turn_count"), F.lit(0)).alias("_n")
    entries = F.array_sort(
        F.filter(F.collect_list(F.struct(cat, n)), lambda e: e[cat].isNotNull())
    )
    if len(split) > 1:
        entries = F.transform(
            F.array_distinct(F.transform(entries, lambda e: e[cat])),
            lambda k: F.struct(
                k.alias(cat),
                F.aggregate(
                    F.filter(entries, lambda e: e[cat] == k),
                    F.lit(0).cast("long"),
                    lambda acc, e: acc + e["_n"],
                ).alias("_n"),
            ),
        )
    return F.map_from_entries(entries)


def rollup_all_tiers(
    raw: DataFrame,
    tiers: Sequence[str] = ("1m", "1h", "1d"),
    key: str = "conv_id",
    ts: str = "ts",
    role_values: Sequence[str] | None = DEFAULT_ROLES,
    tool_values: Sequence[str] | None = None,
    cache_gaps: bool = False,
    persist_tiers: bool = False,
    return_gaps: bool = False,
    with_sketches: bool | str = False,
):
    """The retention tiers raw → 1m → 1h → 1d. The gap column is
    computed once; every tier is then built from that gap frame by the
    one tier builder (``_build_tiers``, one tier per call): a direct
    fused rollup per tier, sketches included, with ``lat_digest``
    (``with_sketches="digest"``) merged from the finer tier's.
    ``cache_gaps=True`` persists the gap frame across the tiers that
    read it — the common-subplan reuse the reference does with
    ``intermediateResult`` memoization, ``IROperator.scala:11``."""
    raw_g = with_gap_seconds(raw, key=key, ts=ts).select(
        key, ts, "role", "tool", "gap_us", "gap_s"
    )
    if cache_gaps:
        raw_g = raw_g.persist()
    out: dict[str, DataFrame] = {}
    prev = None
    for t in tiers:
        out[t] = _build_tiers(
            raw_g, prev, (t,), key=key, ts=ts, role_values=role_values,
            tool_values=tool_values, with_sketches=with_sketches,
        ).drop("tier")
        if persist_tiers:
            # tiers are tiny relative to raw; persisting stops the lazy
            # digest cascade from recomputing the whole finer tier inside
            # every coarser tier's job (without this, 1d recomputes 1h
            # which recomputes 1m — quadratic re-aggregation)
            out[t] = out[t].persist()
        prev = out[t]
    if return_gaps:
        # hand the (possibly persisted) gap frame to the caller so it
        # can unpersist between benchmark reps — otherwise the cache
        # manager's plan matching lets rep 2 skip the gap window
        return out, raw_g
    return out
