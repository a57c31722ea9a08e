"""Percentile-cascade error contract (t-digest).

THE CONTRACT (enforced here, stated in ``functions/tdigest.py``):
p50/p95/p99 extracted from the CHAINED 1m→1h→1d digest cascade are
within **2% relative error** of exact-from-raw at EVERY tier (measured
headroom is ~5×: ≤0.35% at δ=300). The histogram sketch keeps its own
2× bound test in ``test_sketches.py``; the digest is the tight-error
path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.functions.tdigest import (
    DEFAULT_DELTA,
    build_digest,
    digest_quantile,
    merge_digests,
    tdigest_cascade,
    tdigest_quantile,
    tdigest_rollup,
)
from gmql_spark.operators.rollup import with_gap_seconds

REL_BOUND = 0.02
QS = (0.5, 0.95, 0.99)


# ------------------------------------------------------------ numpy core


def test_digest_order_and_chunking_invariance():
    rng = np.random.Generator(np.random.PCG64(11))
    v = rng.lognormal(8, 1.2, size=50_000)
    parts = [build_digest(c) for c in np.array_split(v, 97)]
    a = merge_digests(parts)
    b = merge_digests(list(reversed(parts)))
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    assert (a[2], a[3]) == (b[2], b[3])


def test_small_groups_are_exact_points():
    # below the compression threshold every value is its own centroid
    m, w, lo, hi = build_digest([5.0, 1.0, 9.0, 1.0])
    assert list(m) == [1.0, 1.0, 5.0, 9.0] and list(w) == [1.0] * 4
    assert (lo, hi) == (1.0, 9.0)
    assert digest_quantile(m, w, lo, hi, 0.0) == 1.0
    assert digest_quantile(m, w, lo, hi, 1.0) == 9.0


def test_empty_and_nan_inputs():
    m, w, lo, hi = build_digest([])
    assert m.size == 0 and np.isnan(lo)
    assert np.isnan(digest_quantile(m, w, lo, hi, 0.5))
    m, w, lo, hi = build_digest([np.nan, 3.0])
    assert list(m) == [3.0]


def test_chained_cascade_error_bound_multi_distribution():
    """The module-level contract on raw numpy: chained 1440→24→1 merges
    (the 1m→1h→1d shape) stay within REL_BOUND of exact at every q,
    across head-, mid-, and tail-heavy distributions."""
    rng = np.random.Generator(np.random.PCG64(3))
    for name, v in (
        ("lognormal", rng.lognormal(10, 1.5, 200_000)),
        ("exponential", rng.exponential(1000, 200_000)),
        ("uniform", rng.uniform(0, 1e6, 200_000)),
    ):
        l1 = [build_digest(c) for c in np.array_split(v, 1440)]
        l2 = [merge_digests(l1[i : i + 60]) for i in range(0, 1440, 60)]
        l3 = merge_digests(l2)
        for digest, tier in ((merge_digests(l1), "1h"), (l3, "1d")):
            for q in QS:
                exact = float(np.quantile(v, q))
                est = digest_quantile(*digest, q)
                rel = abs(est - exact) / exact
                assert rel <= REL_BOUND, f"{name} {tier} q={q}: rel={rel:.4f}"


# ------------------------------------------------------------ Spark layer


@pytest.fixture(scope="module")
def gaps(spark):
    raw = datagen.transcripts_spark(spark, n_conv=60)
    return with_gap_seconds(raw).withColumn(
        "gap_us", (F.col("gap_s") * 1e6).cast("double")
    )


def _digest_quantiles(df):
    cols = ["means", "weights", "vmin", "vmax"]
    return df.select(
        "conv_id",
        "window_start",
        *[tdigest_quantile(q)(*cols).alias(f"p{int(q * 100)}") for q in QS],
    ).toPandas()


def test_spark_cascade_contract_per_tier(spark, gaps):
    """End-to-end on transcripts: build at 1m, cascade 1m→1h→1d, and at
    EACH tier compare extraction against exact-from-raw quantiles for
    that tier's (conv, window) groups — the enforced REL_BOUND. The
    exact convention is Hazen (ranks (i+0.5)/n): it is what the
    digest's centroid-midpoint interpolation computes EXACTLY when the
    digest is lossless (small groups), so small windows contribute 0
    error instead of a convention artifact, and for compressed large
    groups every convention agrees to O(1/n) — far inside the bound."""
    d1m = tdigest_rollup(gaps, "1m")
    d1h = tdigest_cascade(d1m, "1h")
    d1d = tdigest_cascade(d1h, "1d")

    raw = (
        gaps.filter(F.col("gap_us").isNotNull())
        .select("conv_id", "ts", "gap_us")
        .toPandas()
    )
    for tier, frame in (("1m", d1m), ("1h", d1h), ("1d", d1d)):
        got = _digest_quantiles(frame)
        assert len(got) > 0, f"{tier}: empty digest frame"
        rawt = raw.assign(
            window_start=raw["ts"].dt.floor(
                {"1m": "1min", "1h": "1h", "1d": "1D"}[tier]
            )
        )
        exact = (
            rawt.groupby(["conv_id", "window_start"])["gap_us"]
            .agg(**{
                f"e{int(q * 100)}": lambda s, q=q: float(
                    np.quantile(s, q, method="hazen")
                )
                for q in QS
            })
            .reset_index()
        )
        j = got.merge(exact, on=["conv_id", "window_start"], how="inner")
        assert len(j) == len(got), f"{tier}: window key mismatch"
        for q in QS:
            a, e = j[f"p{int(q * 100)}"], j[f"e{int(q * 100)}"]
            mask = e > 0
            rel = (a[mask] - e[mask]).abs() / e[mask]
            assert rel.max() <= REL_BOUND, (
                f"{tier} p{int(q * 100)}: worst rel {rel.max():.4f}"
            )
            assert (a[~mask] == e[~mask]).all()


def test_spark_cascade_equals_numpy_merge(spark, gaps):
    """Distribution-independence pin: the Spark 1d digest for one
    conversation is bit-identical to a driver-side numpy merge of that
    conversation's 1m digests (same lexsort + compression path)."""
    d1m = tdigest_rollup(gaps, "1m")
    d1d = tdigest_cascade(tdigest_cascade(d1m, "1h"), "1d")
    conv = d1d.select("conv_id").first()["conv_id"]
    row = d1d.filter(F.col("conv_id") == conv).orderBy("window_start").first()

    parts = [
        (np.asarray(r.means), np.asarray(r.weights), r.vmin, r.vmax)
        for r in d1m.filter(
            (F.col("conv_id") == conv)
            & (F.col("window_start") >= row.window_start)
            & (F.col("window_start") < row.window_end)
        ).collect()
    ]
    # two-level numpy merge mirroring 1m->1h->1d is NOT required to be
    # identical to one-shot; mirror the actual chain: group by hour
    hours = {}
    for r in d1m.filter(
        (F.col("conv_id") == conv)
        & (F.col("window_start") >= row.window_start)
        & (F.col("window_start") < row.window_end)
    ).collect():
        hours.setdefault(r.window_start.replace(minute=0, second=0), []).append(
            (np.asarray(r.means), np.asarray(r.weights), r.vmin, r.vmax)
        )
    assert parts, "no 1m digests under the 1d window"
    merged = merge_digests([merge_digests(v) for _, v in sorted(hours.items())])
    assert np.array_equal(np.asarray(row.means), merged[0])
    assert np.array_equal(np.asarray(row.weights), merged[1])
    assert (row.vmin, row.vmax) == (merged[2], merged[3])


def test_tier_tables_carry_digest_columns(spark):
    """with_sketches="digest" wires lat_digest into every tier table and
    the cascade merges it without re-touching raw: each tier's packed
    struct must be BIT-IDENTICAL to the direct tdigest build/cascade
    over the same gap stream (order-insensitive compression makes this
    exact, not approximate)."""
    from gmql_spark.operators.rollup import rollup_all_tiers

    raw = datagen.transcripts_spark(spark, n_conv=40)
    tiers = rollup_all_tiers(raw, with_sketches="digest", cache_gaps=True)
    g = with_gap_seconds(raw)
    want = {"1m": tdigest_rollup(g, "1m")}
    want["1h"] = tdigest_cascade(want["1m"], "1h")
    want["1d"] = tdigest_cascade(want["1h"], "1d")
    for t, df in tiers.items():
        assert "lat_digest" in df.columns, t
        got = (
            df.filter(F.col("lat_digest").isNotNull())
            .select("conv_id", "window_start", "lat_digest.*")
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        exp = (
            want[t]
            .drop("window_end")
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp) > 0, t
        assert (got["conv_id"] == exp["conv_id"]).all(), t
        assert (got["window_start"] == exp["window_start"]).all(), t
        for c in ("vmin", "vmax"):
            assert (got[c] == exp[c]).all(), (t, c)
        for c in ("means", "weights"):
            for a, b in zip(got[c], exp[c]):
                assert np.array_equal(np.asarray(a), np.asarray(b)), (t, c)


@pytest.mark.parametrize(
    "sizes",
    [
        pytest.param((1000, 5), id="mixed"),
        pytest.param((250, 250, 250, 250), id="all_oversized"),
        # one window on each side of 2δ/π ≈ 190.99
        pytest.param((190, 191), id="threshold_edge"),
    ],
)
def test_routed_build_big_window_path(spark, sizes):
    """Each (key, window) is routed in-plan by its row count: windows
    past the merge-free threshold take the Arrow path and are genuinely
    compressed, smaller ones the JVM collect path, and every window
    equals build_digest's output bit for bit."""
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1)
    rng = np.random.Generator(np.random.PCG64(sum(sizes)))
    rows, want = [], {}
    for wmin, n in enumerate(sizes):  # one 1m window of n values each
        start = t0 + dt.timedelta(minutes=wmin)
        want[start] = rng.lognormal(3, 1, size=n)
        rows += [
            ("k1", start + dt.timedelta(microseconds=i), float(v))
            for i, v in enumerate(want[start])
        ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, v double")
    out = {
        r.window_start: r
        for r in tdigest_rollup(df, "1m", value_col="v").collect()
    }
    assert out.keys() == want.keys()
    for start, vals in want.items():
        got = out[start]
        m, w, lo, hi = build_digest(vals)
        assert np.array_equal(np.asarray(got.means), m), start
        assert np.array_equal(np.asarray(got.weights), w), start
        assert (got.vmin, got.vmax) == (lo, hi), start
        if len(vals) >= 2 * DEFAULT_DELTA / np.pi:
            assert len(got.means) < len(vals)  # genuinely compressed
        else:
            assert list(got.weights) == [1.0] * len(vals)


def test_building_digest_paths_runs_no_jobs(spark):
    """The routing is decided inside the plan: building the raw digest
    build, one digest tier or every digest tier runs no Spark job (no
    driver count, no staging)."""
    from gmql_spark.operators.rollup import rollup, rollup_all_tiers
    from tests.conftest import spark_jobs

    raw = datagen.transcripts_spark(spark, n_conv=20)
    g = with_gap_seconds(raw)
    assert spark_jobs(spark, lambda: tdigest_rollup(g, "1m")) == 0
    assert spark_jobs(spark, lambda: rollup(raw, "1m", with_sketches="digest")) == 0
    assert spark_jobs(spark, lambda: rollup_all_tiers(raw, with_sketches="digest")) == 0
