"""Mergeable t-digest sketches for the percentile cascade.

The log₂ histograms (``sketches.hist_rollup``) cascade exactly but
extract percentiles with a coarse ≤2× relative-error bound (one
power-of-two bucket). This module adds the tight-error mergeable
alternative: a pure-numpy t-digest (Dunning's merging digest with the
arcsine scale function — public algorithm) carried as plain columns
``(means array<double>, weights array<double>, vmin, vmax)``, so tiers
can serve p50/p95/p99 without the exact path's raw re-scan
(``operators.rollup.exact_percentiles``) while holding a stated,
test-enforced error contract (see ``tests/test_tdigest.py``:
cascaded p50/p95/p99 within a few percent of exact-from-raw at every
tier, vs 2× for the histogram).

Scale shape: digests are BUILT once at the finest tier (1m), where a
(conv, minute) group is a handful of turns — the ``applyInPandas``
group pass there is the same shuffle the exact path pays, but it is
paid ONCE; every coarser tier then merges tier-sized digest rows
(≤ ~2·δ centroids each), never re-touching raw. Extraction is a
vectorized Arrow UDF over tier-scale rows (a projection, not a raw
scan). Error does NOT grow with cascade depth in the bound we enforce:
merging re-compresses under the same scale function, and the contract
test asserts the chained 1m→1h→1d digests against exact-from-raw at
each tier, not tier-over-tier.

Determinism (same contract as the engine's other sketches): centroids
are lexsorted by (mean, weight) before every compression, so the result
is independent of row arrival order and parallelism — equal (mean,
weight) centroids are interchangeable under weighted averaging.

The reference has no sketching layer at all; this is beyond-parity
surface alongside ``functions.sketches``.

Known next optimization (not yet taken): for fine-tier windows below
the merge-free threshold (n < 2δ/π — the overwhelming majority at 1m
grain), the digest is EXACTLY ``sort_array(collect_list(v))`` + unit
weights, so the build pass could stay JVM-side entirely (a bounded
collection aggregate, same sanction argument as BAG) and reserve the
Arrow path for the rare oversized window. Today's day-batched Arrow
build measures 39.6 s for 1M values at sf1 (BENCH/sf1.json
``tdigest_family``) — honest but Python-bound.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# kept in sync with operators.rollup.TIER_DURATION (same no-cycle rule
# as functions.sketches)
TIER_DURATION = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}

DIGEST_FIELDS = "means array<double>, weights array<double>, vmin double, vmax double"

# δ=300 → ~δ/2 centroids (the arcsine scale's k(1)−k(0) = δ/2):
# measured chained-cascade (1440→24→1 merges) relative error < 1% at
# p50/p95/p99 over lognormal/exponential/uniform at n=200k (worst
# observed ≈ 0.7% at p99 on lognormal(3,1); the enforced test contract
# is 2%), vs the histogram sketch's 2×-of-bin-width.
# ~150 centroids × 16 B ≈ 2.4 KB per tier row.
DEFAULT_DELTA = 300.0

# oversized-window key sets beyond this ride a plain shuffle join
# instead of F.broadcast (guarding driver memory / the 8 GB broadcast
# cap when a coarse grain or hot keys blow the set up)
_BROADCAST_KEY_CAP = 1_000_000


# ------------------------------------------------------------ numpy core


def _k(q: np.ndarray, delta: float) -> np.ndarray:
    """Arcsine scale function k(q) = δ/(2π)·asin(2q−1): centroid size
    limit shrinks toward the tails, which is what keeps p95/p99 tight."""
    return delta / (2.0 * np.pi) * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))


def _compress(means: np.ndarray, weights: np.ndarray, delta: float):
    """Greedy left-to-right merge of (mean, weight) centroids sorted by
    (mean, weight): absorb the next centroid while the combined q-span
    satisfies k(q_hi) − k(q_lo) ≤ 1."""
    means = np.asarray(means, dtype=np.float64)
    weights = np.asarray(weights, dtype=np.float64)
    if means.size == 0:
        return means, weights
    order = np.lexsort((weights, means))
    means, weights = means[order], weights[order]
    # provably-merge-free fast path: with UNIT weights and n < 2δ/π the
    # loop below can never absorb — any adjacent pair spans q-length 2/n,
    # and k'(q) ≥ k'(0.5) = δ/π everywhere, so its k-span ≥ 2δ/(πn) > 1.
    # Output is bit-identical to running the loop (sorted singletons);
    # this is what makes tiny fine-tier windows (1–2 turns a minute)
    # cost a sort instead of a per-value Python iteration.
    if means.size < 2.0 * delta / np.pi and np.all(weights == 1.0):
        return means, weights
    # Greedy left-to-right segmentation, vectorized (r8): the absorb
    # test for element i is k(S_i/n) − k(cum/n) ≤ 1 with S the inclusive
    # weight prefix sum — and cum (weight before the current centroid)
    # always equals S at the last segment boundary, INDEPENDENT of the
    # merge decisions. So K = k(S/n) is precomputable and each segment
    # extends to the last index with K ≤ K_excl[start] + 1: one
    # searchsorted jump per emitted centroid (≈ δ/2 of them) instead of
    # a per-element Python loop with per-step numpy scalar calls —
    # ~20× on the 300–4000-centroid merges the tier cascade does.
    # Same greedy semantics, deterministic; segment means are the exact
    # weighted means via ordered reduceat sums.
    n = float(weights.sum())
    S = np.cumsum(weights)
    K = _k(S / n, delta)
    K_excl = _k(np.concatenate(([0.0], S[:-1])) / n, delta)
    size = means.size
    starts: list[int] = []
    i = 0
    while i < size:
        starts.append(i)
        j = int(np.searchsorted(K, K_excl[i] + 1.0, side="right"))
        i = max(j, i + 1)
    starts_a = np.asarray(starts, dtype=np.intp)
    out_w = np.add.reduceat(weights, starts_a)
    out_m = np.add.reduceat(means * weights, starts_a) / out_w
    return out_m, out_w


def build_digest(values, delta: float = DEFAULT_DELTA):
    """Digest of a raw value array → (means, weights, vmin, vmax);
    all-nan/empty input yields the empty digest (nan bounds)."""
    v = np.asarray(values, dtype=np.float64)
    v = v[~np.isnan(v)]
    if v.size == 0:
        return np.array([]), np.array([]), float("nan"), float("nan")
    m, w = _compress(v, np.ones_like(v), delta)
    return m, w, float(v.min()), float(v.max())


def merge_digests(parts, delta: float = DEFAULT_DELTA):
    """Merge [(means, weights, vmin, vmax), ...] → one digest. Arrival
    order cannot matter: the concatenated centroids are re-lexsorted
    inside ``_compress``."""
    parts = [p for p in parts if np.asarray(p[0]).size > 0]
    if not parts:
        return np.array([]), np.array([]), float("nan"), float("nan")
    means = np.concatenate([np.asarray(p[0], dtype=np.float64) for p in parts])
    weights = np.concatenate([np.asarray(p[1], dtype=np.float64) for p in parts])
    m, w = _compress(means, weights, delta)
    return m, w, min(float(p[2]) for p in parts), max(float(p[3]) for p in parts)


def digest_quantile(means, weights, vmin: float, vmax: float, q: float) -> float:
    """Quantile estimate: linear interpolation through the centroid
    midpoints anchored at (rank 0, vmin) and (rank n, vmax)."""
    m = np.asarray(means, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    if m.size == 0:
        return float("nan")
    total = float(w.sum())
    centers = np.cumsum(w) - w / 2.0
    xp = np.concatenate(([0.0], centers, [total]))
    fp = np.concatenate(([vmin], m, [vmax]))
    return float(np.interp(q * total, xp, fp))


# ------------------------------------------------------------ Spark layer


def _digest_out_schema(df: DataFrame, keys: Sequence[str]) -> str:
    key_ddl = ", ".join(f"{k} {dict(df.dtypes)[k]}" for k in keys)
    head = f"{key_ddl}, " if key_ddl else ""
    return f"{head}window_start timestamp, window_end timestamp, {DIGEST_FIELDS}"


# Arrow batches are grouped one level COARSER than the digest grain
# (per key × _BATCH_S of windows): one Python call + one Arrow transfer
# per ~day of windows instead of per window. A per-(key, minute)
# groupBy.applyInPandas pays ~ms of per-group overhead — at 10^5
# windows that is minutes of pure dispatch for milliseconds of numpy.
_BATCH_S = 86400


def _window_slices(ws: np.ndarray):
    """Boundaries of equal-``window_start`` runs in an already-sorted
    array: (first-index array, bounds array with the trailing length).
    The shared skeleton of the vectorized rollup/cascade batch
    functions: one sort per batch, one slice per window, no pandas
    groupby."""
    uniq_idx = np.flatnonzero(np.r_[True, ws[1:] != ws[:-1]])
    return uniq_idx, np.append(uniq_idx, ws.size)




def tdigest_rollup(
    df: DataFrame,
    tier: str,
    keys: Sequence[str] = ("conv_id",),
    value_col: str = "gap_us",
    ts: str = "ts",
    delta: float = DEFAULT_DELTA,
) -> DataFrame:
    """Build per-(keys, window) digests from raw values — the ONE pass
    that touches raw-scale rows. The shuffle is the same keys-hash
    partitioning every other rollup uses.

    Two routed paths (bit-identical outputs):

    - windows below the merge-free threshold (n < 2δ/π — the
      overwhelming majority at a fine tier, where a (key, minute) holds
      a handful of values): the digest is EXACTLY the sorted values
      with unit weights (:func:`_compress`'s proven fast path), i.e.
      ``sort_array(collect_list(v))`` — built entirely JVM-side. The
      collection aggregate is BOUNDED BY CONSTRUCTION: rows are
      anti-joined against the (tiny) oversized-window key set first,
      so no group can exceed the threshold (same sanction class as the
      engine's map-assembly aggregates).
    - oversized windows: the vectorized Arrow path (numpy sort + slice
      inside day-sized batches, ``_window_slices``; one Python call per
      key-day, not per window), now touching only the rows that
      genuinely need ``_compress``.

    Before the routing, the Arrow path processed EVERY row: 39.6 s for
    1M values at sf1, Python-bound (BENCH/sf1.json history)."""
    keys = list(keys)
    win = F.window(ts, TIER_DURATION[tier])
    g = (
        # NaN dropped up front (JVM-side) so every batch row is a real
        # observation; a window whose values are ALL NaN therefore
        # produces no digest row (it has no observations)
        df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
            & F.col(ts).isNotNull()
        )
        .select(
            *keys,
            win["start"].alias("window_start"),
            win["end"].alias("window_end"),
            F.col(value_col).cast("double").alias("_v"),
        )
    )
    gcols = [*keys, "window_start", "window_end"]
    threshold = 2.0 * delta / np.pi

    # ONE materialization of the raw-scale frame for all its consumers
    # (the oversized-key count below, then the small/big split): without
    # staging, counts + anti-join + semi-join each re-ran the upstream
    # scan/filter, and a nondeterministic upstream could even disagree
    # between the three evaluations, mis-routing windows (r7 ADVICE).
    # Same lazy localCheckpoint + pre-checkpoint window-ban audit as the
    # cover sweeps.
    from gmql_spark.operators.cover import _stage

    g = _stage(g)

    # routing: split rows on the oversized-window key set (n >= threshold).
    # The set's size is data-dependent, so it is COUNTED before choosing
    # the join strategy (r7 VERDICT: an unguarded F.broadcast of a
    # data-dependent frame can exceed broadcast limits / OOM the driver
    # on coarse grains or hot keys): empty -> skip the split AND the
    # Arrow stage entirely (the collect_list bound is then verified by
    # the count itself); small -> broadcast anti/semi joins; past
    # _BROADCAST_KEY_CAP -> plain shuffle joins. In every case the JVM
    # path's collect_list is bounded < threshold values per group by
    # construction, never by hope.
    counts = g.groupBy(*gcols).agg(F.count(F.lit(1)).alias("_n"))
    big_keys = counts.filter(F.col("_n") >= F.lit(float(threshold))).select(*gcols)
    n_big = big_keys.count()

    def small_agg(rows):
        return (
            rows.groupBy(*gcols)
            .agg(
                F.sort_array(F.collect_list("_v")).alias("means"),
                F.min("_v").alias("vmin"),
                F.max("_v").alias("vmax"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select(
                *gcols,
                "means",
                F.expr("array_repeat(1.0D, cast(_n as int))").alias("weights"),
                "vmin",
                "vmax",
            )
        )

    if n_big == 0:
        # no oversized windows anywhere: the digest of EVERY group is
        # exactly its sorted unit-weight values (merge-free fast path
        # proof at _compress) — no split joins, no Arrow stage
        return small_agg(g)

    big_side = F.broadcast(big_keys) if n_big <= _BROADCAST_KEY_CAP else big_keys
    small = small_agg(g.join(big_side, gcols, "left_anti"))
    g_big = g.join(big_side, gcols, "left_semi")

    batch = F.floor(F.unix_micros("window_start") / F.lit(_BATCH_S * 1_000_000))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # fully vectorized: keys are constant within a batch, window_end
        # is determined by window_start — one lexsort by (window, value),
        # then one slice per window. No pandas groupby, no per-window
        # Python call except _compress (which itself short-circuits for
        # merge-free small windows).
        ws = pdf["window_start"].to_numpy()
        we = pdf["window_end"].to_numpy()
        v = pdf["_v"].to_numpy(dtype=np.float64)
        order = np.lexsort((v, ws))
        ws, we, v = ws[order], we[order], v[order]
        uniq_idx, bounds = _window_slices(ws)
        rows: dict = {c: [] for c in gcols}
        rows.update(means=[], weights=[], vmin=[], vmax=[])
        for c in keys:
            rows[c] = [pdf[c].iloc[0]] * uniq_idx.size
        rows["window_start"] = list(ws[uniq_idx])
        rows["window_end"] = list(we[uniq_idx])
        for i in range(uniq_idx.size):
            seg = v[bounds[i] : bounds[i + 1]]
            m, w = _compress(seg, np.ones_like(seg), delta)
            rows["means"].append(list(m))
            rows["weights"].append(list(w))
            rows["vmin"].append(float(seg[0]))
            rows["vmax"].append(float(seg[-1]))
        return pd.DataFrame(rows)

    big = (
        g_big.withColumn("_batch", batch)
        .groupBy(*keys, "_batch")
        .applyInPandas(fn, _digest_out_schema(g, keys))
    )
    return small.unionByName(big)


def tdigest_cascade(
    finer: DataFrame,
    tier: str,
    keys: Sequence[str] = ("conv_id",),
    delta: float = DEFAULT_DELTA,
) -> DataFrame:
    """Merge finer-tier digest rows to a coarser grain. Never touches
    raw: input and output are both tier-sized (≤ ~2δ centroids/row)."""
    keys = list(keys)
    win = F.window("window_start", TIER_DURATION[tier])
    g = finer.select(
        *keys,
        win["start"].alias("window_start"),
        win["end"].alias("window_end"),
        "means",
        "weights",
        "vmin",
        "vmax",
    )
    batch = F.floor(F.unix_micros("window_start") / F.lit(_BATCH_S * 1_000_000))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized like the rollup: keys constant per batch, one sort
        # by target window, one merge_digests call per window slice
        ws = pdf["window_start"].to_numpy()
        we = pdf["window_end"].to_numpy()
        mc = pdf["means"].to_numpy()
        wc = pdf["weights"].to_numpy()
        lo_c = pdf["vmin"].to_numpy()
        hi_c = pdf["vmax"].to_numpy()
        order = np.argsort(ws, kind="stable")
        ws, we = ws[order], we[order]
        mc, wc, lo_c, hi_c = mc[order], wc[order], lo_c[order], hi_c[order]
        uniq_idx, bounds = _window_slices(ws)
        rows: dict = {k: [pdf[k].iloc[0]] * uniq_idx.size for k in keys}
        rows["window_start"] = list(ws[uniq_idx])
        rows["window_end"] = list(we[uniq_idx])
        rows.update(means=[], weights=[], vmin=[], vmax=[])
        for i in range(uniq_idx.size):
            s, e = bounds[i], bounds[i + 1]
            m, w, lo, hi = merge_digests(
                list(zip(mc[s:e], wc[s:e], lo_c[s:e], hi_c[s:e])), delta
            )
            rows["means"].append(list(m))
            rows["weights"].append(list(w))
            rows["vmin"].append(lo)
            rows["vmax"].append(hi)
        return pd.DataFrame(rows)

    return (
        g.withColumn("_batch", batch)
        .groupBy(*keys, "_batch")
        .applyInPandas(fn, _digest_out_schema(g, keys))
    )


def tdigest_quantile(q: float) -> Column:
    """Vectorized Arrow extraction column: apply to the four digest
    columns, e.g. ``df.select(tdigest_quantile(0.95)("means", "weights",
    "vmin", "vmax").alias("p95"))``. A projection over tier-scale rows —
    never raw-scale."""

    @pandas_udf("double")
    def _extract(means: pd.Series, weights: pd.Series, vmin: pd.Series,
                 vmax: pd.Series) -> pd.Series:
        return pd.Series([
            digest_quantile(m, w, lo, hi, q)
            for m, w, lo, hi in zip(means, weights, vmin, vmax)
        ])

    return _extract
