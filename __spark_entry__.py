"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises a gmql_spark operator (SURVEY.md §2)
over the driver's testdata tables; ``oracle_sql()`` holds the equivalent
DuckDB SQL. Column names/aliases are kept identical on both sides; float
results are either exact-by-construction (integer/min/max/decimal-sum
arithmetic) or reproduce Spark's exact interpolation formula in SQL.
"""

from __future__ import annotations

import os as _os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO_DIR = _os.path.dirname(_os.path.abspath(__file__))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Spark 4 infers parquet timestamps as TIMESTAMP_NTZ; normalize to
    # session-TZ (UTC) timestamps so unix_micros/window arithmetic works
    for f_ in df.schema.fields:
        if f_.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


# ---------------------------------------------------------------- rollups

def q_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute per-user rollup (MAP recast; operators.window_agg)."""
    from gmql_spark.operators.window_agg import window_rollup

    ev = _read(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    return window_rollup(
        ev,
        "1 minute",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).cast("double").alias("val_sum"),
            F.min("value").alias("val_min"),
            F.max("value").alias("val_max"),
        ],
        keys=["user_id"],
    )


def q_rollup_1h_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h tier built by re-aggregating the 1m tier (continuous-aggregate
    cascade); oracle computes 1h directly — results must coincide."""
    from gmql_spark.operators.window_agg import window_rollup

    ev = _read(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    m1 = window_rollup(
        ev,
        "1 minute",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).alias("val_sum_dec"),
            F.min("value").alias("val_min"),
            F.max("value").alias("val_max"),
        ],
        keys=["user_id"],
    )
    h1 = window_rollup(
        m1,
        "1 hour",
        aggs=[
            F.sum("n").alias("n"),
            F.sum("val_sum_dec").cast("double").alias("val_sum"),
            F.min("val_min").alias("val_min"),
            F.max("val_max").alias("val_max"),
        ],
        keys=["user_id"],
        ts="window_start",
    )
    return h1.select("user_id", "window_start", "window_end", "n", "val_sum", "val_min", "val_max")


def q_merge_global_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE recast (MergeRD ``IROperators.scala:289-291``): collapse all
    keys into one global hourly series."""
    from gmql_spark.operators.window_agg import window_rollup

    ev = _read(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    return window_rollup(
        ev,
        "1 hour",
        aggs=[F.count(F.lit(1)).alias("n"), F.sum(dec).cast("double").alias("val_sum")],
        keys=[],
    )


def q_type_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event_type histogram in relational form (GroupMD/counts_map
    semantics, long format for the SQL oracle)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))


def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inter-event latency percentiles per user (EXTEND/AggregateRD
    recast: per-sample aggregate -> one row per sample,
    ``AggregateRD.scala:17-53``). Percentiles via the engine's rank+lerp
    plan (``rollup.exact_percentiles``) — same interpolation formula as
    the oracle SQL (``_pct_sql``), no ObjectHashAggregate, bit-identical
    results (built-in F.percentile's `lo + d*(hi-lo)` form differs by an
    ulp on some inputs)."""
    from gmql_spark.operators.rollup import exact_percentiles, with_gap_seconds

    ev = _read(spark, sf_dir, "events")
    g = with_gap_seconds(ev, key="user_id", order=["ts", "event_id"], ts="ts")
    # r8: the count/sum base aggregate rides the percentile pass's own
    # groupBy (extra_aggs) — one exchange+sort, no join. Row set is
    # unchanged: the former inner join kept exactly the users with >=1
    # non-null gap, which is exactly who the filtered pct pass emits,
    # and count('gap_s')/sum('gap_us') see the same non-null rows.
    out = exact_percentiles(
        g,
        keys=["user_id"],
        value="gap_s",
        extra_aggs=[
            F.count("gap_s").alias("n_gaps"),
            F.sum("gap_us").alias("latency_sum_us"),
        ],
        extra_cols=["gap_us"],
    )
    return out.select(
        "user_id", "n_gaps", "latency_p50", "latency_p95", "latency_p99", "latency_sum_us"
    )


def q_percentile_digest_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest percentile SERVING, exact-gated end-to-end: build 1m
    digests from raw values, merge 1m→1h→1d (never re-touching raw —
    the mergeable-sketch property the tier cascade needs at 10^12
    turns), extract p50/p95/p99 from the 1d digests, and compare each
    against the EXACT per-(group, day) percentile from raw. The gate
    emits the (grp, window_start) grid with one boolean per percentile.

    The bound is in RANK, which is what t-digest actually guarantees
    (value error is unbounded on heavy tails): the estimate must lie
    within the exact [q−0.02, q+0.02] quantile band. δ=300's cascaded
    rank error is ~q(1−q)·4/δ ≲ 1e-3, and the residual interpolation-
    convention gap vs numpy-style exact quantiles is ~0.5/n ranks —
    both far inside 0.02 — so all-true is deterministic on this data.
    The DuckDB oracle emits the same grid with TRUE literals, making
    the accuracy contract hash-exact rather than a soft assert."""
    from gmql_spark.functions.tdigest import (
        tdigest_cascade,
        tdigest_quantile,
        tdigest_rollup,
    )

    # NaN excluded on BOTH sides (tdigest_rollup drops NaN internally;
    # the exact band and the oracle grid must see the same population)
    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
    )
    src = ev.select(
        F.pmod(F.col("user_id"), F.lit(4)).cast("long").alias("grp"),
        "ts",
        F.col("value").alias("v"),
    )
    d1m = tdigest_rollup(src, "1m", keys=("grp",), value_col="v")
    d1h = tdigest_cascade(d1m, "1h", keys=("grp",))
    d1d = tdigest_cascade(d1h, "1d", keys=("grp",))
    est = d1d.select(
        "grp",
        "window_start",
        tdigest_quantile(0.50)("means", "weights", "vmin", "vmax").alias("_e50"),
        tdigest_quantile(0.95)("means", "weights", "vmin", "vmax").alias("_e95"),
        tdigest_quantile(0.99)("means", "weights", "vmin", "vmax").alias("_e99"),
    )
    eps = 0.02
    band = {
        q: (max(q - eps, 0.0), min(q + eps, 1.0)) for q in (0.50, 0.95, 0.99)
    }
    # exact band bounds via the engine's rank+lerp plan (hash agg, no
    # ObjectHashAggregate — built-in percentile() would trip the audit)
    from gmql_spark.operators.rollup import exact_percentiles

    exact = exact_percentiles(
        src.select(
            "grp", F.window("ts", "1 day")["start"].alias("window_start"), "v"
        ),
        keys=["grp", "window_start"],
        value="v",
        pcts=[b for lo_hi in band.values() for b in lo_hi],
        names=[
            f"_{tag}{int(q * 100)}"
            for q in band
            for tag in ("lo", "hi")
        ],
    )
    j = est.join(exact, ["grp", "window_start"])
    fuzz = F.lit(1e-9)

    def ok(p: int):
        e = F.col(f"_e{p}")
        return (e >= F.col(f"_lo{p}") - fuzz) & (e <= F.col(f"_hi{p}") + fuzz)

    return j.select(
        "grp",
        "window_start",
        ok(50).alias("p50_ok"),
        ok(95).alias("p95_ok"),
        ok(99).alias("p99_ok"),
    )


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both gap-fill modes in one tag-union (common schema user_id/
    window_start/n/is_gap/n_locf/latency_interp): ``zero`` is the dense
    per-user hourly grid with zero-filled counts + LOCF (MAP's
    zero-count left-outer semantics, ``GenometricMap71.scala:109-120``;
    latency_interp NULL by construction); ``interp`` additionally
    linear-interpolates the hourly max-value series across gaps via
    fwd/bwd ignoreNulls windows + arithmetic (north-rule fill mode)."""
    from gmql_spark.operators.gapfill import gapfill
    from gmql_spark.operators.window_agg import window_rollup

    ev = _read(spark, sf_dir, "events")
    cols = ["user_id", "window_start", "n", "is_gap", "n_locf"]
    # ONE hourly rollup feeds ONE gapfill pass (r8): the zero variant is
    # a pure projection of the interp variant (same grid, same n /
    # is_gap / n_locf — interp_col only ADDS latency_interp), so both
    # variants are emitted from a single computed frame via a 2-element
    # variant explode instead of a union that re-ran the whole rollup →
    # grid → join → window pipeline per branch. Row set is identical to
    # the former union by construction (projection algebra, data-
    # independent); the oracle is unchanged.
    hi = window_rollup(
        ev,
        "1 hour",
        aggs=[F.count(F.lit(1)).alias("n"), F.max("value").alias("val_max")],
        keys=["user_id"],
    )
    full = gapfill(hi, tier="1h", key="user_id", value_col="n", interp_col="val_max")

    def _variant(tag: str, interp) -> F.Column:
        return F.struct(
            F.lit(tag).alias("variant"),
            *[F.col(c).alias(c) for c in cols],
            interp.cast("double").alias("latency_interp"),
        )

    return full.select(
        F.explode(
            F.array(
                _variant("zero", F.lit(None)),
                _variant("interp", F.col("latency_interp")),
            )
        ).alias("_e")
    ).select("_e.*")


# ------------------------------------------------- select / project / order

def q_select_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT + PROJECT with computed column (SelectRD/ProjectRD,
    ``PredicateRD.scala``/``ProjectRD.scala``); predicate reaches the
    parquet scan via Catalyst pushdown."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 50.0))
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.floor(F.col("value") / 10).cast("long").alias("value_bucket"),
        )
    )


def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events per user by value (OrderRD Top(k),
    ``OrderRD.scala:23-168``) with 1-based order position."""
    from gmql_spark.operators.order import topk_per_key

    ev = _read(spark, sf_dir, "events")
    out = topk_per_key(
        ev,
        keys=["user_id"],
        order_by=[F.col("value").desc(), F.col("event_id").asc()],
        k=3,
    )
    return out.select("user_id", "event_id", "value", "order_pos")


def q_top_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopP (OrderRD top-percent variant, ``OrderRD.scala:23-168``):
    top 5% of events per user by value."""
    from gmql_spark.operators.order import top_percent_per_key

    ev = _read(spark, sf_dir, "events")
    out = top_percent_per_key(
        ev,
        keys=["user_id"],
        order_by=[F.col("value").desc(), F.col("event_id").asc()],
        pct=0.05,
    )
    return out.select("user_id", "event_id", "value", "order_pct")


def _reap_dead_pid_dirs(root: str) -> None:
    """Remove ``*_<pid>`` scratch dirs whose owning process is gone —
    the pid keying isolates concurrent drivers, but each process would
    otherwise leave a full staged events copy behind in the system temp
    dir forever. Live processes' dirs are never touched."""
    import shutil

    try:
        entries = _os.listdir(root)
    except FileNotFoundError:
        return
    for e in entries:
        pid_s = e.rsplit("_", 1)[-1]
        if not pid_s.isdigit() or int(pid_s) == _os.getpid():
            continue
        try:
            _os.kill(int(pid_s), 0)
        except ProcessLookupError:
            shutil.rmtree(_os.path.join(root, e), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user


def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming run as a correctness gate
    (streaming.materialize.run_rollup_to_table): events staged to an
    ingest dir, streamed back (availableNow), tumbling 1m per-user
    windows aggregated under a 10-minute event-time watermark, emitted
    windows appended to a parquet table via foreachBatch — every row of
    the ``stream`` side flowed through the streaming engine's stateful
    agg and sink. The final ~watermark of windows is withheld in state
    by append mode; those are recomputed batch-side past the emitted
    boundary (the exact lambda split — see materialize module doc for
    why the union partitions the window axis). Oracle: the same 1m
    tumbling SQL as ``rollup_windows``."""
    import tempfile

    from gmql_spark.operators.window_agg import window_rollup
    from gmql_spark.streaming.materialize import run_rollup_to_table

    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "value")
    dec = F.col("value").cast("decimal(18,2)")
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(dec).cast("double").alias("val_sum")]
    # scratch dir keyed by sf_dir AND pid: run_rollup_to_table wipes it
    # on entry, so two concurrent drivers (plan audit + gate check, or
    # parallel bench invocations) on the same sf_dir must not share one
    root = _os.path.join(tempfile.gettempdir(), "gmql_stream_gate")
    _reap_dead_pid_dirs(root)
    work = _os.path.join(
        root, f"{sf_dir.strip('/').replace('/', '_')}_{_os.getpid()}"
    )
    emitted, boundary = run_rollup_to_table(
        spark, ev, work, "1 minute", aggs=aggs, keys=["user_id"],
        watermark="10 minutes",
    )
    if boundary is None:
        raise AssertionError(
            "stream_rollup gate: the streaming run emitted NOTHING — the "
            "gate would degenerate to a pure batch recompute (data span "
            "must exceed the 10-minute watermark)"
        )
    tail = window_rollup(ev, "1 minute", aggs=aggs, keys=["user_id"]).filter(
        F.col("window_end") > F.lit(boundary)
    )
    cols = ["user_id", "window_start", "window_end", "n", "val_sum"]
    return emitted.select(*cols).unionByName(tail.select(*cols))


# ------------------------------------------------------ joins / set ops

def q_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemiJoinMD (``SemiJoinMD.scala:20-80``): keep events of users who
    have >=1 'error' event. left_semi — Catalyst broadcasts the id set."""
    ev = _read(spark, sf_dir, "events")
    err_users = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return ev.join(err_users, "user_id", "left_semi").select("event_id", "user_id", "event_type")


def q_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE (anti range join, ``GenometricDifference.scala:18-114``):
    purchases with NO error event of the same user within 10 minutes."""
    from gmql_spark.operators.difference import temporal_difference

    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    out = temporal_difference(purchases, errors, keys=["user_id"], max_distance_s=600.0)
    return out.select("event_id", "user_id", "ts", "value")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (GenometricJoin MinDistance/Upstream,
    ``GenometricJoin.scala:130-151``): for each purchase, the most recent
    click of the same user at-or-before it, plus the gap in seconds.
    Both execution paths are gated in one tag-union — ``plain`` (sorted
    per-key windows) and ``salted`` (the hot-key range-salt path:
    per-(key, time-bucket) windows + keyed edge-frame carry). They are
    semantics-preserving alternatives, so the oracle is the same ASOF
    SQL repeated per variant."""
    from gmql_spark.operators.join import asof_join

    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")

    def _proj(out: DataFrame, variant: str) -> DataFrame:
        return out.select(
            F.lit(variant).alias("variant"),
            "event_id",
            "user_id",
            "ts",
            F.col("ts_right").alias("click_ts"),
            ((F.unix_micros("ts") - F.unix_micros("ts_right")) / F.lit(1e6)).alias("gap_s"),
        )

    plain = _proj(
        asof_join(purchases, clicks, keys=["user_id"], ts="ts", right_cols=()), "plain"
    )
    salted = _proj(
        asof_join(
            purchases, clicks, keys=["user_id"], ts="ts", right_cols=(),
            salt_bucket_s=3600.0,
        ),
        "salted",
    )
    return plain.unionByName(salted)


def q_nearest_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinDistance(k>1) nearest-neighbor join (``GenometricJoin.scala:
    130-151``): for each purchase, the 3 nearest clicks of the same user
    within 30 minutes, ranked by |Δt| (ties by click ts)."""
    from gmql_spark.operators.join import nearest_k

    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = nearest_k(
        purchases, clicks, keys=["user_id"], k=3, max_distance_s=1800.0, left_id="event_id"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_r").alias("click_ts"),
        "distance_s",
        F.col("nn_rank").cast("long").alias("nn_rank"),
    )


def q_ring_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained JoinQuadruple conditions (``JoinQuadruple.scala:7-15``,
    ``AtomicCondition.scala:9-35``): DistLess(30m) + DistGreater(5m) +
    Upstream — clicks strictly between 5 and 30 minutes BEFORE a
    purchase of the same user (the "ring" join: both bounds strict per
    the reference, ``GenometricJoin.scala:169-170``)."""
    from gmql_spark.operators.join import join_conditions

    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = join_conditions(
        purchases,
        clicks,
        keys=["user_id"],
        conditions=[("dist_less", 1800.0), ("dist_greater", 300.0), "upstream"],
        left_id="event_id",
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("ts_r").alias("click_ts"), "distance_s"
    )


def q_nearest_beyond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistGreater BEFORE MinDistance (``GenometricJoin.scala:65-74``
    condition split): each purchase's nearest click MORE than 5 minutes
    away (either direction, within 2 h), reference tie semantics — rank,
    ties at the k-th distance all kept (``:130-151``)."""
    from gmql_spark.operators.join import join_conditions

    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = join_conditions(
        purchases,
        clicks,
        keys=["user_id"],
        conditions=[("dist_less", 7200.0), ("dist_greater", 300.0), ("min_distance", 1)],
        left_id="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_r").alias("click_ts"),
        "distance_s",
        F.col("nn_rank").cast("long").alias("nn_rank"),
    )


def q_topg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopG: top-2 events per (user, event_type) value-group by value
    (OrderRD TopG variant, ``IROperators.scala:240-242``)."""
    from gmql_spark.operators.order import topg_per_key

    ev = _read(spark, sf_dir, "events")
    out = topg_per_key(
        ev,
        keys=["user_id"],
        group_cols=["event_type"],
        order_by=[F.col("value").desc(), F.col("event_id").asc()],
        k=2,
    )
    return out.select("user_id", "event_type", "event_id", "value", "order_pos")


def q_interval_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join with INTERSECTION region builder
    (``GenometricJoin.scala:345-372``, ``RegionBuilder.scala:11-13``):
    purchase 1h-intervals × same-user error 10m-intervals."""
    from gmql_spark.operators.join import interval_join

    ev = _read(spark, sf_dir, "events")
    refs = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("ref_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 1 hour")).alias("end_ts"),
    )
    exps = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("exp_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 10 minutes")).alias("end_ts"),
    )
    out = interval_join(refs, exps, keys=["user_id"], builder="intersection")
    return out.select("ref_id", "exp_id", "user_id", "int_start", "int_end")


def q_union_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with provenance attribute (UnionMD adds ``_provenance``,
    ``UnionMD.scala:51``; UnionRD schema-merge ≙ unionByName)."""
    ev = _read(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").withColumn("_provenance", F.lit("left"))
    b = ev.filter(F.col("event_type") == "signup").withColumn("_provenance", F.lit("right"))
    return a.unionByName(b).select("event_id", "user_id", "event_type", "_provenance")


# ----------------------------------------------------------- cover family

def q_cover_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVER/HISTOGRAM sweep + SUMMIT selection as a tag union (r7
    board merge — both are projections of the SAME step function, so
    the accumulation pipeline and its staged sweep frames run once and
    feed both variants): 'hist' = the global concurrency step function
    (``GenometricCover.scala:345-360`` point events + prefix sum);
    'summit' = its local-maximum runs (``:269-316``)."""
    from gmql_spark.operators.cover import _summits_from_acc, accumulation

    ev = _read(spark, sf_dir, "events")
    iv = ev.select(
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 600 seconds")).alias("end_ts"),
    )
    acc = accumulation(iv, keys=())
    hist = acc.withColumn("variant", F.lit("hist"))
    summit = _summits_from_acc(acc).withColumn("variant", F.lit("summit"))
    return hist.unionByName(summit).select("variant", "acc_start", "acc_end", "acc")


def q_cover_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVER's follow-up self-MAP aggregates (``GMAP4.scala:60-95``):
    islands of >=3 concurrent 10-min event intervals, each with its
    contributor count and the reference's JaccardResult /
    JaccardIntersect ratios (island / contributor-union and
    contributor-intersection / contributor-union). Exact by
    construction: both sides divide the same integer microsecond
    durations as doubles."""
    from gmql_spark.operators.cover import cover_jaccard

    ev = _read(spark, sf_dir, "events")
    iv = ev.select(
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 600 seconds")).alias("end_ts"),
    )
    return cover_jaccard(iv, min_acc=3)


# ------------------------------------------------------------ text / dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents: one keeper (min doc_id) per distinct
    text, with duplicate count."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    ).select(F.md5("text").alias("text_hash"), "keep_id", "n_dups")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents: whitespace tokenizer plus the
    sub-word-ish piece counter (operators.textstats.bpe_ish_token_count:
    split at every alnum/non-alnum boundary, drop empty and single-space
    pieces — so the count equals (maximal alnum runs) + (non-space
    non-alnum chars), the lookaround-free formulation the RE2-based
    oracle uses)."""
    from gmql_spark.operators.textstats import token_stats

    docs = _read(spark, sf_dir, "documents")
    return token_stats(docs)


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment + nested stable sampling
    (operators.sampling): stable id-hash buckets, never rand() — the
    split must survive retries, repartitioning, and appends. The md5
    bucket scheme is the engine's portable hash, so the oracle computes
    the identical assignment."""
    from gmql_spark.operators.sampling import deterministic_split, sample_fraction

    docs = _read(spark, sf_dir, "documents")
    out = deterministic_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}, id_col="doc_id"
    )
    ten_pct = sample_fraction(docs, 0.1, id_col="doc_id").select(
        F.col("doc_id").alias("s_id"), F.lit(True).alias("in_10pct")
    )
    return out.select("doc_id", "split").join(
        ten_pct, out.doc_id == ten_pct.s_id, "left"
    ).select(
        "doc_id", "split", F.coalesce("in_10pct", F.lit(False)).alias("in_10pct")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (operators.dedup);
    restricted to doc_id < 2000 to bound the shingle join in the gate."""
    from gmql_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return ngram_jaccard_pairs(docs, threshold=0.5, n=3)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster grouping: connected components over the exact
    trigram-Jaccard near-dup pairs, singleton docs included. Tag-union
    of both algorithms — ``minlabel`` (label propagation) and ``star``
    (Kiveris et al. large-star/small-star, O(log n) rounds independent
    of diameter). Identical output contract (component = min id), so
    the recursive-CTE fixpoint oracle is repeated per variant."""
    from gmql_spark.operators.dedup import dedup_components, ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, n=3)
    nodes = docs.select(F.col("doc_id").alias("id_a"))
    out = None
    for variant in ("label", "star"):
        comp = dedup_components(pairs, nodes=nodes, method=variant).select(
            F.lit(variant).alias("variant"), F.col("id").alias("doc_id"), "component"
        )
        out = comp if out is None else out.unionByName(comp)
    return out


def q_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection (skew-proof max_by aggregate, no
    per-component window): one keeper per exact-duplicate text group —
    longest text, ties min doc_id (trivially the min id within an
    exact-text group, but the oracle ranks the general way)."""
    from gmql_spark.operators.dedup import canonical_docs

    docs = _read(spark, sf_dir, "documents")
    comps = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("component"))
        .join(docs.select("doc_id", "text"), on="text")
        .select(F.col("doc_id").alias("id"), "component")
    )
    out = canonical_docs(docs, comps)
    return out.select("doc_id", "component", "is_canonical")


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, portable-md5 hash mode so the
    whole pipeline (signatures -> band buckets -> est_jaccard) is exactly
    reproducible in the DuckDB oracle."""
    from gmql_spark.operators.dedup import minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return minhash_lsh_pairs(docs, num_perm=64, bands=16, threshold=0.5, hash_fn="md5")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, portable-md5 hash mode (60-bit
    fingerprints, 4x15-bit banding) -> exact DuckDB oracle."""
    from gmql_spark.operators.dedup import simhash_near_pairs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return simhash_near_pairs(docs, max_hamming=3, hash_fn="md5")


def q_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis profile in one pass: quality features
    (length/punct/digit ratios), stopword-marker language ID, and the
    deterministic md5 fingerprint — three per-doc operators joined on
    doc_id (Catalyst collapses the three projections over one scan)."""
    from gmql_spark.operators.textstats import (
        fingerprint,
        language_id,
        quality_features,
    )

    docs = _read(spark, sf_dir, "documents")
    q = quality_features(docs).select(
        "doc_id", "n_chars", "n_tokens", "punct_ratio", "digit_ratio"
    )
    l = language_id(docs).select("doc_id", "lang_pred", "lang_score")
    f = fingerprint(docs).select("doc_id", "fingerprint_md5")
    return q.join(l, "doc_id").join(f, "doc_id")


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 vectors
    (similarity-search baseline; zip_with/aggregate JVM dot products)."""
    from gmql_spark.operators.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(q, emb, k=5)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both ANN scale paths in one tag-union over the same query set,
    each with its exact oracle half:

    - ``lsh``: random-hyperplane LSH buckets + exact cosine re-rank
      (candidates ∝ bucket collisions instead of |Q|×|N|); PCG64-seeded
      planes so the oracle inlines identical literals.
    - ``ivf``: corpus vectors assigned to their nearest of 8
      deterministic centroid cells, queries probe 3 cells, exact cosine
      re-rank within them (the cell-partitioned complement).

    ``sim`` is dropped from the gate output (float last-ulp hash noise);
    rank order is still fully determined by it."""
    import numpy as np

    from gmql_spark.operators.similarity import ivf_topk, lsh_bucket_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    lsh = lsh_bucket_topk(q, emb, k=5, n_planes=8, n_tables=2, dim=64, seed=7).select(
        F.lit("lsh").alias("variant"), "query_id", "neighbor_id", "rank"
    )
    rng = np.random.Generator(np.random.PCG64(11))
    cen = rng.standard_normal((8, 64))
    ivf = ivf_topk(q, emb, cen, k=5, n_probe=3).select(
        F.lit("ivf").alias("variant"), "query_id", "neighbor_id", "rank"
    )
    return lsh.unionByName(ivf)


def q_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED centroids (similarity.train_ivf_centroids →
    kmeans_train): deterministic md5-ranked sample → driver-side
    spherical Lloyd's (seeded init, fixed sweeps, deterministic early
    stop) → literal-mode ivf_topk. The oracle reproduces the exact same
    centroids outside Spark (same sample rule, same pure-numpy trainer)
    and inlines them, so the gate is exact end-to-end — training
    included."""
    from gmql_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = _read(spark, sf_dir, "embeddings")
    cen = train_ivf_centroids(emb, n_cells=8, seed=0, n_iters=20)
    q = emb.filter(F.col("vec_id") < 20)
    out = ivf_topk(q, emb, cen, k=5, n_probe=3)
    return out.select("query_id", "neighbor_id", "rank")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family, embedding
    modality): brute verification path over a bounded block; the LSH
    candidate path is recall-tested in tests/."""
    from gmql_spark.operators.similarity import cosine_near_pairs

    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return cosine_near_pairs(emb, threshold=0.35, method="brute")


def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing (operators.multimodal): one row
    per sampled frame timestamp, pure Catalyst explode — documents stand
    in as media rows with a derived duration."""
    from gmql_spark.operators.multimodal import sample_frames

    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.length("text") * 10).cast("int").alias("duration_ms"),
    )
    return sample_frames(media, every_ms=500)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column feature extraction through the Arrow
    mapInPandas path. The decoder is the deterministic stand-in (real
    media libs absent here), which makes an EXACT oracle possible: its
    expected output is precomputed outside Spark into a fixture parquet
    (tools/make_multimodal_fixture.py) that the oracle SQL joins on
    md5(text)."""
    from gmql_spark.operators.multimodal import extract_features

    docs = _read(spark, sf_dir, "documents").filter(F.length("text") > 0)
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    out = extract_features(media, dim=8)
    return out.select(
        "media_id",
        F.size("feature").alias("n_dims"),
        F.aggregate("feature", F.lit(0.0), lambda a, x: a + x * x).alias("sq_norm"),
    )


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (multimodal.decode_bmp/decode_ppm/
    jpeg.decode_jpeg/png.decode_png — pure stdlib+numpy, no media
    libs): per document, a deterministic test image is synthesized from
    sha256(text) (multimodal.synth_image), encoded to BMP / binary PPM
    / baseline JPEG / PNG by ``doc_id % 4``, then decoded back via the
    magic-byte dispatcher and reduced to exact integer/digest stats
    (decode_stats). The JPEG images are block-constant mosaics, which
    the codec's DC-step-8 quantizer round-trips pixel-EXACTLY despite
    the lossy pipeline (jpeg.py module doc); BMP/PPM/PNG are lossless
    and share one pixel synth (the PNG encoder cycles all five
    scanline filters, so Sub/Up/Average/Paeth defilter paths are all
    load-bearing here). The oracle fixture (tools/make_image_fixture.py)
    computes the same stats from the PIXELS alone — so any codec
    round-trip defect (row order, 4-byte padding, BGR/RGB, Huffman /
    IDCT / restart-marker / zlib-filter bugs) breaks the md5 match."""
    import pandas as _pd

    from gmql_spark.operators.multimodal import decode_stats, synth_image

    docs = _read(spark, sf_dir, "documents").filter(F.length("text") > 0)

    def _synth(batches):
        for pdf in batches:
            rows = []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                fmt = ("bmp", "ppm", "jpeg", "png")[mid % 4]
                _, payload = synth_image(text.encode("utf-8"), fmt)
                rows.append((mid, payload))
            yield _pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.select("doc_id", "text").mapInPandas(
        _synth, "media_id long, payload binary"
    )
    return decode_stats(media)


def q_bag_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GMQL BAG/BAGD aggregates (DefaultRegionsToRegionFactory.scala:
    127-170): sorted comma-joined bag of values / distinct values per
    group, null-skipping."""
    from gmql_spark.functions.aggregates import bag, bagd

    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        bagd("event_type").alias("types_bagd"),
        bag("event_type").alias("types_bag"),
    )


def q_group_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupRD analogue (``GroupRD.scala:17-66``): group + aggregate with
    exact decimal sums (TPC-H Q1 shape)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


def q_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta JoinBy analogue (``MetaJoinMJD2.scala:26-157``): star join
    orders ⨝ customer ⨝ nation with broadcast dims, per-nation stats."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


def q_project_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProjectRD with computed expression (``RegionExtension.scala:7-46``
    arithmetic tree ≙ Catalyst expression): per-row revenue."""
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
    )


def q_map_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MAP over arbitrary reference intervals (GenometricMap,
    ``GenometricMap71.scala:23-203``): each purchase opens a 1h interval;
    count + aggregate same-user clicks inside it, zero-filled."""
    from gmql_spark.operators.map_agg import map_intervals

    ev = _read(spark, sf_dir, "events")
    refs = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("start_ts"),
                (F.col("ts") + F.expr("interval 1 hour")).alias("end_ts"))
        .distinct()
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = map_intervals(
        refs,
        clicks,
        aggs=[
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("click_sum"),
            F.max("value").alias("click_max"),
        ],
        keys=["user_id"],
        bucket_s=3600.0,
    )
    return out.select("user_id", "start_ts", "end_ts", "n_events", "click_sum", "click_max")


def q_flat_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVER FLAT variant (``GMAP4.scala:83-84``): islands of >=3
    concurrent 10-min event intervals, widened to contributor footprint."""
    from gmql_spark.operators.cover import flat_cover

    ev = _read(spark, sf_dir, "events")
    iv = ev.select(
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 600 seconds")).alias("end_ts"),
    )
    return flat_cover(iv, min_acc=3)


def q_meta_accessor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SelectRD with MetaAccessor (``PredicateRD.scala:23-64``): filter
    rows by a per-key statistic. The reference collects metadata to the
    driver; here it's a join against the derived per-user dim."""
    ev = _read(spark, sf_dir, "events")
    thr = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("threshold")
        )
    )
    return (
        ev.join(F.broadcast(thr), "user_id")
        .filter(F.col("value") >= F.col("threshold"))
        .select("event_id", "user_id", "value", "threshold")
    )


def q_rollup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling and sliding rollups in one tag-union (common schema
    user_id/window_start/window_end/n/val_sum): ``tumbling_1m`` is the
    per-user 1-minute MAP recast; ``sliding_1h_30m`` is the 1h/30m
    sliding window, where Spark's window generator replicates rows to
    covered windows — the declarative form of the reference's bin
    flatMap (``GenometricMap71.scala:152-182``). val_min/val_max of the
    tumbling tier stay gated via ``rollup_1h_cascade``."""
    from gmql_spark.operators.window_agg import window_rollup

    ev = _read(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(dec).cast("double").alias("val_sum")]
    cols = ["user_id", "window_start", "window_end", "n", "val_sum"]
    tumbling = window_rollup(ev, "1 minute", aggs=aggs, keys=["user_id"]).select(
        F.lit("tumbling_1m").alias("variant"), *cols
    )
    sliding = window_rollup(
        ev, "1 hour", aggs=aggs, keys=["user_id"], slide="30 minutes"
    ).select(F.lit("sliding_1h_30m").alias("variant"), *cols)
    return tumbling.unionByName(sliding)


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle-gap sessionization per user (COVER island merge applied to
    point events; batch twin of the stateful streaming sessionizer).
    Tag-union of both paths: ``plain`` (per-key window) and ``salted``
    (local sessions per (key, time-bucket) + boundary interval merge) —
    semantics-preserving, so one oracle SQL repeated per variant."""
    from gmql_spark.operators.session import sessionize

    ev = _read(spark, sf_dir, "events")
    src = ev.select("user_id", "ts", "event_id")
    plain = sessionize(src, key="user_id", gap_timeout_s=1800.0, order=["event_id"])
    salted = sessionize(src, key="user_id", gap_timeout_s=1800.0, salt_bucket_s=3600.0)
    return (
        plain.select(F.lit("plain").alias("variant"), "*")
        .unionByName(salted.select(F.lit("salted").alias("variant"), "*"))
    )


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profile (GMQL-Profiler analogue, ``Profiler.scala:66-68``)."""
    from gmql_spark.operators.profile import profile_per_key

    ev = _read(spark, sf_dir, "events")
    return profile_per_key(ev, key="user_id", ts="ts")


def q_realtime_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous aggregate (realtime.serve_realtime): closed
    1h windows served from a 1m→1h cascaded tier, windows past the
    frozen watermark (mid-hour, 2024-01-21 00:30 — NOT grid-aligned, so
    the straddling hour is recomputed whole) re-rolled from raw. The
    oracle recomputes everything from raw; the routed union must
    coincide exactly."""
    import datetime as dt

    from gmql_spark.operators.window_agg import window_rollup
    from gmql_spark.realtime import serve_realtime

    ev = _read(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    cols = ["user_id", "window_start", "window_end", "n", "val_sum", "val_min", "val_max"]

    def hourly(df: DataFrame) -> DataFrame:
        return window_rollup(
            df,
            "1 hour",
            aggs=[
                F.count(F.lit(1)).alias("n"),
                F.sum(dec).cast("double").alias("val_sum"),
                F.min("value").alias("val_min"),
                F.max("value").alias("val_max"),
            ],
            keys=["user_id"],
        ).select(*cols)

    m1 = window_rollup(
        ev,
        "1 minute",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).alias("val_sum_dec"),
            F.min("value").alias("val_min"),
            F.max("value").alias("val_max"),
        ],
        keys=["user_id"],
    )
    tier_1h = window_rollup(
        m1,
        "1 hour",
        aggs=[
            F.sum("n").alias("n"),
            F.sum("val_sum_dec").cast("double").alias("val_sum"),
            F.min("val_min").alias("val_min"),
            F.max("val_max").alias("val_max"),
        ],
        keys=["user_id"],
        ts="window_start",
    ).select(*cols)
    frozen = dt.datetime(2024, 1, 21, 0, 30)
    return serve_realtime(tier_1h, ev, frozen, "1h", hourly)


def q_range_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-tier range stitch (realtime.stitch_range): an arbitrary
    misaligned [start, end) answered from whole 1d tier rows + 1h/1m
    edges + <2 min of raw (7-segment decomposition); oracle filters raw
    directly. Exercises every segment shape at once. Tier frames come
    from realtime.derive_tier_frames — one range-pruned scan + one 1m
    aggregate checkpointed in memory, the on-disk-tier plan shape — not
    a per-segment re-derivation of the full cascade."""
    import datetime as dt

    from gmql_spark.realtime import derive_tier_frames, stitch_range

    ev = _read(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    raw_aggs = [F.count(F.lit(1)).alias("n"), F.sum(dec).alias("val_sum_dec")]
    merge_aggs = [F.sum("n").alias("n"), F.sum("val_sum_dec").alias("val_sum_dec")]
    start = dt.datetime(2024, 1, 3, 7, 41, 17)
    end = dt.datetime(2024, 1, 29, 21, 5, 3)
    raw_rng, tier_dfs = derive_tier_frames(
        ev, start, end, keys=["user_id"], raw_aggs=raw_aggs,
        merge_aggs=merge_aggs,
    )
    out = stitch_range(
        tier_dfs,
        raw_rng,
        start,
        end,
        keys=["user_id"],
        raw_aggs=raw_aggs,
        merge_aggs=merge_aggs,
    )
    return out.select(
        "user_id", "n", F.col("val_sum_dec").cast("double").alias("val_sum")
    )


def q_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log₂ latency histogram (functions.sketches): per-user
    1m histogram maps merged to 1h (exact bucket-count addition),
    exploded long-form; oracle buckets raw gaps at 1h directly with the
    same integer bit-length formula."""
    from gmql_spark.functions.sketches import hist_cascade, hist_rollup
    from gmql_spark.operators.rollup import with_gap_seconds

    ev = _read(spark, sf_dir, "events")
    g = with_gap_seconds(ev, key="user_id", order=["ts", "event_id"], ts="ts")
    m1 = hist_rollup(g, "1m", keys=["user_id"], value_col="gap_us")
    h1 = hist_cascade(m1, "1h", keys=["user_id"])
    return h1.select(
        "user_id", "window_start", F.explode("lat_hist").alias("bucket", "n")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: per-user 1-minute rollup."""
    return q_rollup_1m(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE: the driver records at most the first 50 entries in its
    # CORRECTNESS artifact (observed r4); the board is kept at exactly 50
    # by tag-union-merging semantics-equivalent gate pairs (each variant
    # keeps its own oracle half), so every gate is driver-verified.
    # Gates whose implementation changed most recently are listed first.
    return {
        "stream_rollup": q_stream_rollup,
        "realtime_rollup": q_realtime_rollup,
        "range_stitch": q_range_stitch,
        "latency_histogram": q_latency_histogram,
        "sessions": q_sessions,
        "profile": q_profile,
        "rollup_windows": q_rollup_windows,
        "rollup_1h_cascade": q_rollup_1h_cascade,
        "merge_global_1h": q_merge_global_1h,
        "type_histogram": q_type_histogram,
        "latency_percentiles": q_latency_percentiles,
        "percentile_digest_ok": q_percentile_digest_ok,
        "gapfill": q_gapfill,
        "select_project": q_select_project,
        "topk_per_user": q_topk_per_user,
        "top_percent": q_top_percent,
        "semijoin": q_semijoin,
        "difference": q_difference,
        "asof_join": q_asof_join,
        "nearest_k": q_nearest_k,
        "ring_join": q_ring_join,
        "nearest_beyond": q_nearest_beyond,
        "topg": q_topg,
        "interval_intersect": q_interval_intersect,
        "union_provenance": q_union_provenance,
        "cover_accumulation": q_cover_accumulation,
        "cover_jaccard": q_cover_jaccard,
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "dataset_split": q_dataset_split,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_components": q_dedup_components,
        "canonical_pick": q_canonical_pick,
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "textstats": q_textstats,
        "cosine_topk": q_cosine_topk,
        "ann_topk": q_ann_topk,
        "ivf_trained": q_ivf_trained,
        "embedding_neardup": q_embedding_neardup,
        "frame_samples": q_frame_samples,
        "multimodal_features": q_multimodal_features,
        "image_decode": q_image_decode,
        "bag_aggregates": q_bag_aggregates,
        "group_lineitem": q_group_lineitem,
        "join_dims": q_join_dims,
        "project_extend": q_project_extend,
        "map_intervals": q_map_intervals,
        "flat_cover": q_flat_cover,
        "meta_accessor": q_meta_accessor,
    }


def _pct_sql(tag: str) -> str:
    """DuckDB SQL reproducing Spark's exact percentile interpolation
    lo_v*(hi-pos) + hi_v*(pos-lo), over per-row columns pos{tag}/lo{tag}/
    hi{tag} precomputed in the ranked CTE (DuckDB forbids nested
    aggregates). See gmql_spark.oracle.rollup._pct_plain_lerp."""
    pos, lo, hi = f"max(pos{tag})", f"max(lo{tag})", f"max(hi{tag})"
    lo_v = f"max(CASE WHEN rn=lo{tag} THEN gap_s END)"
    hi_v = f"max(CASE WHEN rn=hi{tag} THEN gap_s END)"
    return (
        f"CASE WHEN {lo}={hi} THEN {lo_v} "
        f"ELSE {lo_v}*({hi}-{pos}) + {hi_v}*({pos}-{lo}) END"
    )




def _h64(expr: str, seed: str) -> str:
    """DuckDB md5-based 64-bit hash identical to dedup.hash64(md5 mode)."""
    return f"(('0x'||substr(md5(({expr}) || '#{seed}'),1,15))::BIGINT)"


_SHINGLE_CTE = """
        WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents WHERE doc_id < 2000
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM t, LATERAL (
                SELECT unnest(generate_series(1, len(w) - 2)) AS i
            ) ix
            WHERE len(w) >= 3
        )
"""


def _minhash_sql(num_perm: int = 64, bands: int = 16, threshold: float = 0.5) -> str:
    rows = num_perm // bands
    mh_defs = ",\n                   ".join(
        f"min({_h64('shingle', str(i))}) AS mh_{i}" for i in range(num_perm)
    )
    band_selects = []
    for b in range(bands):
        concat = " || '|' || ".join(f"CAST(mh_{b*rows+r} AS VARCHAR)" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {_h64(concat, f'band{b}')} AS bucket FROM sig"
        )
    buckets = "\n            UNION ALL ".join(band_selects)
    eq = " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    return _SHINGLE_CTE + f""", sig AS (
            SELECT doc_id, {mh_defs}
            FROM sh GROUP BY doc_id
        ), buckets AS (
            {buckets}
        ), cands AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM buckets x JOIN buckets y
              ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        )
        SELECT id_a, id_b, ({eq}) / CAST({float(num_perm)} AS DOUBLE) AS est_jaccard
        FROM cands
        JOIN sig a ON a.doc_id = id_a
        JOIN sig b ON b.doc_id = id_b
        WHERE ({eq}) / CAST({float(num_perm)} AS DOUBLE) >= {threshold}
    """


def _ann_sql(n_planes: int = 8, n_tables: int = 2, dim: int = 64, seed: int = 7,
             k: int = 5) -> str:
    """DuckDB oracle for ``q_ann_topk``: the SAME deterministic
    hyperplanes (numpy PCG64(seed), identical to
    ``similarity.lsh_bucket_topk``) inlined as DOUBLE[] literals;
    bucket = sum of sign bits, candidates = bucket equi-join, re-rank =
    exact cosine. Element products and left-to-right summation match
    Spark's zip_with/aggregate fold bit-for-bit."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    planes = rng.standard_normal((n_tables, n_planes, dim))
    vals = ",\n                   ".join(
        f"({t}, {p}, CAST([{', '.join(repr(float(x)) for x in planes[t, p])}] AS DOUBLE[]))"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""
        WITH planes(tbl, p, w) AS (
            VALUES {vals}
        ), q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20
        ), c AS (
            SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ), qsig AS (
            SELECT query_id, tbl,
                   CAST(sum(CASE WHEN list_dot_product(qv, w) > 0
                            THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
            FROM q CROSS JOIN planes GROUP BY 1, 2
        ), csig AS (
            SELECT neighbor_id, tbl,
                   CAST(sum(CASE WHEN list_dot_product(cv, w) > 0
                            THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
            FROM c CROSS JOIN planes GROUP BY 1, 2
        ), cands AS (
            SELECT DISTINCT query_id, neighbor_id
            FROM qsig JOIN csig ON qsig.tbl = csig.tbl AND qsig.bucket = csig.bucket
            WHERE query_id <> neighbor_id
        ), scored AS (
            SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
            FROM cands JOIN q USING (query_id) JOIN c USING (neighbor_id)
        ), ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
    """


def _ivf_sql(n_cells: int = 8, dim: int = 64, seed: int = 11, n_probe: int = 3,
             k: int = 5, cen=None) -> str:
    """DuckDB oracle for the ivf variants: centroids inlined as
    DOUBLE[] literals (with their norms as double literals, so the
    cosine matches Spark's constant-folded ``|c|`` bit-for-bit);
    corpus cell = first argmax, query probes = top n_probe cells with the
    same (sim desc, cell asc) tie-break. ``cen`` defaults to the
    PCG64-seeded random centroids of the ``ivf`` gate variant; the
    trained gate passes the k-means output instead."""
    import numpy as np

    if cen is None:
        rng = np.random.Generator(np.random.PCG64(seed))
        cen = rng.standard_normal((n_cells, dim))
    n_cells = len(cen)
    vals = ",\n                   ".join(
        f"({i + 1}, CAST([{', '.join(repr(float(x)) for x in cen[i])}] AS DOUBLE[]), "
        f"{float(np.sqrt(cen[i] @ cen[i]))!r})"
        for i in range(n_cells)
    )
    return f"""
        WITH cen(cell, w, nrm) AS (
            VALUES {vals}
        ), q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20
        ), c AS (
            SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ), csim AS (
            SELECT neighbor_id, cell,
                   list_dot_product(cv, w) / (sqrt(list_dot_product(cv, cv)) * nrm) AS sim
            FROM c CROSS JOIN cen
        ), ccell AS (
            SELECT neighbor_id, cell FROM (
                SELECT neighbor_id, cell,
                       row_number() OVER (PARTITION BY neighbor_id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM csim
            ) WHERE rn = 1
        ), qsim AS (
            SELECT query_id, cell,
                   list_dot_product(qv, w) / (sqrt(list_dot_product(qv, qv)) * nrm) AS sim
            FROM q CROSS JOIN cen
        ), probed AS (
            SELECT query_id, cell FROM (
                SELECT query_id, cell,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM qsim
            ) WHERE rn <= {n_probe}
        ), cands AS (
            SELECT p.query_id, cc.neighbor_id
            FROM probed p JOIN ccell cc ON p.cell = cc.cell
            WHERE p.query_id <> cc.neighbor_id
        ), scored AS (
            SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
            FROM cands JOIN q USING (query_id) JOIN c USING (neighbor_id)
        ), ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
    """


def _oracle_trained_centroids(n_cells: int = 8, seed: int = 0, n_iters: int = 20,
                              sample_cap: int = 100_000):
    """Oracle twin of ``similarity.train_ivf_centroids``: reproduce the
    trained centroids OUTSIDE Spark from the same parquet the driver
    compares at (sf0.01 per the driver contract; override with
    $SPARK_GRAFT_ORACLE_SF_DIR when checking another dir). Same
    deterministic sample rule — rank by the portable 60-bit md5 hash of
    the id (ties by id), take sample_cap — then the same pure-numpy
    ``kmeans_train``, so the centroids are bit-identical."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    sf_dir = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()

    def h(i) -> int:
        return int(hashlib.md5(f"{i}#ivf".encode()).hexdigest()[:15], 16)

    t = t.assign(_h=t["vec_id"].map(h)).sort_values(
        ["_h", "vec_id"], kind="mergesort"
    ).head(sample_cap)
    X = np.asarray([np.asarray(v, dtype=np.float64) for v in t["embedding"]])

    from gmql_spark.operators.similarity import kmeans_train

    return kmeans_train(X, n_cells, seed=seed, n_iters=n_iters)


def _ivf_trained_sql() -> str:
    """Build the ivf_trained oracle, containing the failure to THIS
    gate: if the embeddings parquet is unreadable at oracle-build time
    (wrong box, missing dir), return a query whose schema cannot match —
    the single gate fails loudly instead of the whole oracle_sql() dict
    raising and voiding all 50 comparisons."""
    sf_dir = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        # leading comment pins WHICH dir the oracle trained on, so a
        # consumer comparing at a different sf sees the mismatch cause
        # in the gate's recorded SQL instead of a bare hash diff
        return f"-- ivf_trained oracle centroids from {sf_dir}\n" + _ivf_sql(
            cen=_oracle_trained_centroids()
        )
    except Exception as ex:  # noqa: BLE001 — any build failure isolates here
        reason = str(ex)[:120].replace("'", "")
        return (
            f"SELECT 'ivf_trained oracle unavailable ({sf_dir}): {reason}' AS oracle_error"
        )


def _simhash_sql(max_hamming: int = 3, n_bits: int = 60) -> str:
    h = _h64("tok", "sim")
    sums = ",\n                   ".join(
        f"sum(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(n_bits)
    )
    fp = " + ".join(
        f"((CASE WHEN s_{b} > 0 THEN 1 ELSE 0 END)::BIGINT << {b})" for b in range(n_bits)
    )
    chunk_bits = n_bits // 4
    mask = (1 << chunk_bits) - 1
    band_selects = "\n            UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, (simhash >> {chunk_bits*i}) & {mask} AS chunk FROM fp"
        for i in range(4)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents WHERE doc_id < 2000
        ), tf AS (
            SELECT doc_id, tok FROM toks WHERE length(tok) > 0
        ), sums AS (
            SELECT doc_id, {sums}
            FROM tf GROUP BY doc_id
        ), fp AS (
            SELECT doc_id, ({fp}) AS simhash FROM sums
        ), buckets AS (
            {band_selects}
        ), cands AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM buckets x JOIN buckets y
              ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
        )
        SELECT id_a, id_b, bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM cands
        JOIN fp a ON a.doc_id = id_a
        JOIN fp b ON b.doc_id = id_b
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def oracle_sql() -> dict[str, str]:
    gaps_cte = """
        WITH g0 AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events
        ), g AS (
            SELECT user_id, gap_us, CAST(gap_us AS DOUBLE)/1e6 AS gap_s
            FROM g0 WHERE gap_us IS NOT NULL
        ), r0 AS (
            SELECT user_id, gap_us, gap_s,
                   row_number() OVER (PARTITION BY user_id ORDER BY gap_s) - 1 AS rn,
                   count(*) OVER (PARTITION BY user_id) AS cnt
            FROM g
        ), r AS (
            SELECT *,
                   (0.50::DOUBLE)*(cnt-1) AS pos50, CAST(floor((0.50::DOUBLE)*(cnt-1)) AS BIGINT) AS lo50,
                   CAST(ceil((0.50::DOUBLE)*(cnt-1)) AS BIGINT) AS hi50,
                   (0.95::DOUBLE)*(cnt-1) AS pos95, CAST(floor((0.95::DOUBLE)*(cnt-1)) AS BIGINT) AS lo95,
                   CAST(ceil((0.95::DOUBLE)*(cnt-1)) AS BIGINT) AS hi95,
                   (0.99::DOUBLE)*(cnt-1) AS pos99, CAST(floor((0.99::DOUBLE)*(cnt-1)) AS BIGINT) AS lo99,
                   CAST(ceil((0.99::DOUBLE)*(cnt-1)) AS BIGINT) AS hi99
            FROM r0
        )
    """
    sql = {
        "rollup_windows": """
            SELECT 'tumbling_1m' AS variant, user_id,
                   time_bucket(INTERVAL '1 minute', ts) AS window_start,
                   time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
            FROM events GROUP BY user_id, 3
            UNION ALL
            SELECT 'sliding_1h_30m' AS variant, user_id, window_start,
                   window_start + INTERVAL '1 hour' AS window_end,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
            FROM (
                SELECT user_id, value,
                       unnest([time_bucket(INTERVAL '30 minutes', ts),
                               time_bucket(INTERVAL '30 minutes', ts)
                                   - INTERVAL '30 minutes']) AS window_start
                FROM events
            ) w GROUP BY 2, 3
        """,
        "rollup_1h_cascade": """
            SELECT user_id,
                   time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum,
                   min(value) AS val_min,
                   max(value) AS val_max
            FROM events GROUP BY user_id, 2
        """,
        "merge_global_1h": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
            FROM events GROUP BY 1
        """,
        "type_histogram": """
            SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
        """,
        "latency_percentiles": gaps_cte + f"""
            SELECT user_id,
                   count(*) AS n_gaps,
                   {_pct_sql('50')} AS latency_p50,
                   {_pct_sql('95')} AS latency_p95,
                   {_pct_sql('99')} AS latency_p99,
                   CAST(sum(gap_us) AS BIGINT) AS latency_sum_us
            FROM r GROUP BY user_id
        """,
        # the streaming side is exact vs batch (all data in batch 0, no
        # late drops; tail recomputed past the emitted boundary), so the
        # oracle is the plain tumbling SQL
        "stream_rollup": """
            SELECT user_id,
                   time_bucket(INTERVAL '1 minute', ts) AS window_start,
                   time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
            FROM events GROUP BY user_id, 2
        """,
        "gapfill": """
            WITH b AS (
                SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS n
                FROM events GROUP BY 1, 2
            ), span AS (
                SELECT user_id, min(h) AS h0, max(h) AS h1 FROM b GROUP BY 1
            ), grid AS (
                SELECT user_id, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS window_start
                FROM span
            ), j AS (
                SELECT g.user_id, g.window_start, b.n
                FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.window_start
            )
            SELECT 'zero' AS variant, user_id, window_start,
                   CAST(coalesce(n, 0) AS BIGINT) AS n,
                   (n IS NULL) AS is_gap,
                   CAST(last_value(n IGNORE NULLS) OVER (
                        PARTITION BY user_id ORDER BY window_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_locf,
                   CAST(NULL AS DOUBLE) AS latency_interp
            FROM j
        """,
        "select_project": """
            SELECT event_id, user_id, ts, value,
                   CAST(floor(value/10) AS BIGINT) AS value_bucket
            FROM events WHERE event_type = 'purchase' AND value >= 50.0
        """,
        "topk_per_user": """
            SELECT user_id, event_id, value, order_pos FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id ASC) AS order_pos
                FROM events
            ) WHERE order_pos <= 3
        """,
        "top_percent": """
            SELECT user_id, event_id, value, order_pct FROM (
                SELECT user_id, event_id, value,
                       percent_rank() OVER (PARTITION BY user_id
                                            ORDER BY value DESC, event_id ASC)
                           AS order_pct
                FROM events
            ) WHERE order_pct <= 0.05
        """,
        "_gapfill_interp_half": """
            WITH b AS (
                SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
                       count(*) AS n, max(value) AS val_max
                FROM events GROUP BY 1, 2
            ), span AS (
                SELECT user_id, min(h) AS h0, max(h) AS h1 FROM b GROUP BY 1
            ), grid AS (
                SELECT user_id,
                       unnest(generate_series(h0, h1, INTERVAL '1 hour'))
                           AS window_start
                FROM span
            ), j AS (
                SELECT g.user_id, g.window_start, b.n, b.val_max
                FROM grid g LEFT JOIN b
                  ON b.user_id = g.user_id AND b.h = g.window_start
            ), f AS (
                SELECT user_id, window_start,
                       CAST(coalesce(n, 0) AS BIGINT) AS n,
                       (n IS NULL) AS is_gap,
                       CAST(last_value(n IGNORE NULLS)
                            OVER wprev AS BIGINT) AS n_locf,
                       val_max,
                       last_value(val_max IGNORE NULLS) OVER wprev AS pv,
                       last_value(CASE WHEN val_max IS NOT NULL
                                       THEN CAST(epoch(window_start) AS BIGINT) END
                                  IGNORE NULLS) OVER wprev AS pt,
                       first_value(val_max IGNORE NULLS) OVER wnext AS nv,
                       first_value(CASE WHEN val_max IS NOT NULL
                                        THEN CAST(epoch(window_start) AS BIGINT) END
                                   IGNORE NULLS) OVER wnext AS nt,
                       CAST(epoch(window_start) AS BIGINT) AS wt
                FROM j
                WINDOW wprev AS (PARTITION BY user_id ORDER BY window_start
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wnext AS (PARTITION BY user_id ORDER BY window_start
                                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT 'interp' AS variant, user_id, window_start, n, is_gap, n_locf,
                   CASE WHEN val_max IS NOT NULL THEN val_max
                        WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN pv + (nv - pv) *
                             (CAST(wt - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
                        ELSE NULL END AS latency_interp
            FROM f
        """,
        "semijoin": """
            SELECT event_id, user_id, event_type FROM events
            WHERE user_id IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        """,
        "difference": """
            SELECT p.event_id, p.user_id, p.ts, p.value
            FROM events p
            WHERE p.event_type = 'purchase' AND NOT EXISTS (
                SELECT 1 FROM events e
                WHERE e.event_type = 'error' AND e.user_id = p.user_id
                  AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 600000000
            )
        """,
        # the range-salt path is a semantics-preserving alternative, so
        # the same ASOF SQL applies verbatim to both variants
        "asof_join": """
            WITH a AS (
                SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts,
                       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS DOUBLE)/1e6 AS gap_s
                FROM (SELECT event_id, user_id, ts FROM events
                      WHERE event_type = 'purchase') p
                ASOF LEFT JOIN (SELECT user_id, ts FROM events
                                WHERE event_type = 'click') c
                ON p.user_id = c.user_id AND p.ts >= c.ts
            )
            SELECT 'plain' AS variant, * FROM a
            UNION ALL SELECT 'salted' AS variant, * FROM a
        """,
        "nearest_k": """
            SELECT event_id, user_id, ts, click_ts, distance_s, nn_rank FROM (
                SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts,
                       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS DOUBLE)/1e6 AS distance_s,
                       row_number() OVER (
                           PARTITION BY p.event_id
                           ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)), c.ts) AS nn_rank
                FROM (SELECT event_id, user_id, ts FROM events
                      WHERE event_type = 'purchase') p
                JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
                  ON c.user_id = p.user_id
                 AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 1800000000
            ) WHERE nn_rank <= 3
        """,
        "ring_join": """
            SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts,
                   CAST(epoch_us(p.ts) - epoch_us(c.ts) AS DOUBLE)/1e6 AS distance_s
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
              ON c.user_id = p.user_id
             AND epoch_us(p.ts) - epoch_us(c.ts) >= 0
             AND abs(epoch_us(p.ts) - epoch_us(c.ts)) < 1800000000
             AND abs(epoch_us(p.ts) - epoch_us(c.ts)) > 300000000
        """,
        "nearest_beyond": """
            SELECT event_id, user_id, ts, click_ts, distance_s, nn_rank FROM (
                SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts,
                       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS DOUBLE)/1e6 AS distance_s,
                       rank() OVER (
                           PARTITION BY p.event_id
                           ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts))) AS nn_rank
                FROM (SELECT event_id, user_id, ts FROM events
                      WHERE event_type = 'purchase') p
                JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
                  ON c.user_id = p.user_id
                 AND abs(epoch_us(p.ts) - epoch_us(c.ts)) < 7200000000
                 AND abs(epoch_us(p.ts) - epoch_us(c.ts)) > 300000000
            ) WHERE nn_rank <= 1
        """,
        "topg": """
            SELECT user_id, event_type, event_id, value, order_pos FROM (
                SELECT user_id, event_type, event_id, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY value DESC, event_id ASC) AS order_pos
                FROM events
            ) WHERE order_pos <= 2
        """,
        "interval_intersect": """
            WITH p AS (
                SELECT event_id AS ref_id, user_id, ts AS s,
                       ts + INTERVAL '1 hour' AS e
                FROM events WHERE event_type = 'purchase'
            ), x AS (
                SELECT event_id AS exp_id, user_id, ts AS s,
                       ts + INTERVAL '10 minutes' AS e
                FROM events WHERE event_type = 'error'
            )
            SELECT ref_id, exp_id, p.user_id,
                   greatest(p.s, x.s) AS int_start, least(p.e, x.e) AS int_end
            FROM p JOIN x ON x.user_id = p.user_id AND p.s < x.e AND x.s < p.e
        """,
        # r7 board merge: HISTOGRAM + SUMMIT are both projections of the
        # same sweep, so one CTE chain serves both variants
        "cover_accumulation": """
            WITH pts AS (
                SELECT ts AS t, 1 AS d FROM events
                UNION ALL
                SELECT ts + INTERVAL '600 seconds' AS t, -1 AS d FROM events
            ), per_t AS (
                SELECT t, sum(d) AS d FROM pts GROUP BY t HAVING sum(d) <> 0
            ), s AS (
                SELECT t,
                       sum(d) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS acc,
                       lead(t) OVER (ORDER BY t) AS next_t
                FROM per_t
            ), seg AS (
                SELECT t AS acc_start, next_t AS acc_end, acc
                FROM s WHERE acc > 0 AND next_t IS NOT NULL
            ), nb AS (
                SELECT *,
                       lag(acc)       OVER (ORDER BY acc_start) AS pa,
                       lag(acc_end)   OVER (ORDER BY acc_start) AS pe,
                       lead(acc)      OVER (ORDER BY acc_start) AS na,
                       lead(acc_start) OVER (ORDER BY acc_start) AS ns
                FROM seg
            )
            SELECT 'hist' AS variant, acc_start, acc_end,
                   CAST(acc AS BIGINT) AS acc
            FROM seg
            UNION ALL
            SELECT 'summit' AS variant, acc_start, acc_end,
                   CAST(acc AS BIGINT) AS acc
            FROM nb
            WHERE acc >  coalesce(CASE WHEN pe = acc_start THEN pa ELSE 0 END, 0)
              AND acc >= coalesce(CASE WHEN ns = acc_end   THEN na ELSE 0 END, 0)
        """,
        "union_provenance": """
            SELECT event_id, user_id, event_type, 'left' AS _provenance
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT event_id, user_id, event_type, 'right' AS _provenance
            FROM events WHERE event_type = 'signup'
        """,
        # percentile digest serving: the oracle pins the ACCURACY
        # CONTRACT, not the estimates — the grid must exist with every
        # bound satisfied, so it emits the same (grp, day) grid with
        # TRUE literals; any digest estimate leaving the exact
        # [q-0.02, q+0.02] RANK band flips a boolean and hash-fails
        "percentile_digest_ok": """
            SELECT CAST(user_id % 4 AS BIGINT) AS grp,
                   date_trunc('day', ts) AS window_start,
                   TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
            GROUP BY 1, 2
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY text
        """,
        # n_pieces: RE2 has no lookarounds; the boundary-split count
        # equals (maximal alnum runs) + (non-space non-alnum chars)
        "token_count": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   END AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_actual,
                   CAST(len(regexp_extract_all(text, '[\pL\pN]+'))
                        + (length(text)
                           - length(regexp_replace(text, '[^\pL\pN ]', '', 'g')))
                        AS BIGINT) AS n_pieces
            FROM documents
        """,
        "ngram_jaccard": """
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents WHERE doc_id < 2000
            ), sh AS (
                SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM t, LATERAL (
                    SELECT unnest(generate_series(1, len(w) - 2)) AS i
                ) ix
                WHERE len(w) >= 3
            ), sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, n_common,
                   sa.n_sh AS n_a, sb.n_sh AS n_b,
                   CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
                       AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
        """,
        "dedup_components": """
            WITH RECURSIVE t AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents WHERE doc_id < 2000
            ), sh AS (
                SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM t, LATERAL (
                    SELECT unnest(generate_series(1, len(w) - 2)) AS i
                ) ix
                WHERE len(w) >= 3
            ), sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), p AS (
                SELECT id_a, id_b FROM common
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE CAST(n_common AS DOUBLE)
                      / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM p
                UNION SELECT id_b, id_a FROM p
            ), nodes AS (
                SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id < 2000
            ), reach AS (
                SELECT id, id AS comp FROM nodes
                UNION
                SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
            ), comp AS (
                SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY 1
            )
            SELECT 'label' AS variant, * FROM comp
            UNION ALL SELECT 'star' AS variant, * FROM comp
        """,
        "minhash_lsh": _minhash_sql(),
        "simhash_pairs": _simhash_sql(),
        "textstats": """
            WITH q0 AS (
                SELECT doc_id, text,
                       CAST(length(text) AS BIGINT) AS n_chars,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                       END AS n_tokens,
                       CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                            AS BIGINT) AS n_punct,
                       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                            AS BIGINT) AS n_digit
                FROM documents
            ), q AS (
                SELECT doc_id, n_chars, n_tokens,
                       CASE WHEN n_chars > 0
                            THEN CAST(n_punct AS DOUBLE)/CAST(n_chars AS DOUBLE) ELSE 0.0
                       END AS punct_ratio,
                       CASE WHEN n_chars > 0
                            THEN CAST(n_digit AS DOUBLE)/CAST(n_chars AS DOUBLE) ELSE 0.0
                       END AS digit_ratio
                FROM q0
            ), w AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
                FROM documents
            ), scores AS (
                SELECT doc_id, l.lang,
                       CAST(len(list_filter(toks, x -> list_contains(l.markers, x))) AS BIGINT)
                           AS score
                FROM w, LATERAL (
                    SELECT * FROM (VALUES
                        ('de', ['der','die','und','das','ist','ein','nicht']),
                        ('en', ['the','and','of','to','a','in','is']),
                        ('es', ['el','la','de','que','y','en','un']),
                        ('it', ['il','la','di','che','e','un','per'])
                    ) AS v(lang, markers)
                ) l
            ), best AS (
                SELECT doc_id, lang, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, lang DESC) AS rn
                FROM scores
            ), lid AS (
                SELECT doc_id,
                       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
                       score AS lang_score
                FROM best WHERE rn = 1
            ), fp AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                           AS fingerprint_md5
                FROM documents
            )
            SELECT q.doc_id, q.n_chars, q.n_tokens, q.punct_ratio, q.digit_ratio,
                   lid.lang_pred, lid.lang_score, fp.fingerprint_md5
            FROM q JOIN lid ON lid.doc_id = q.doc_id
            JOIN fp ON fp.doc_id = q.doc_id
        """,
        "ann_topk": (
            f"SELECT 'lsh' AS variant, * FROM ({_ann_sql()})\n"
            f"UNION ALL SELECT 'ivf' AS variant, * FROM ({_ivf_sql()})"
        ),
        "ivf_trained": _ivf_trained_sql(),
        "cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 20
            ), c AS (
                SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings
            ), scored AS (
                SELECT query_id, neighbor_id,
                       list_cosine_similarity(qv, cv) AS sim
                FROM q CROSS JOIN c WHERE query_id <> neighbor_id
            ), ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, neighbor_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        """,
        "frame_samples": """
            SELECT doc_id AS media_id,
                   unnest(generate_series(
                       0, greatest(length(text) * 10 - 1, 0), 500)) AS frame_ms
            FROM documents
        """,
        # exact oracle for the deterministic stub decoder: expected
        # (n_dims, sq_norm) precomputed OUTSIDE Spark by
        # tools/make_multimodal_fixture.py (same sha256/PCG64 recipe and
        # the same f32-multiply/f64-accumulate fold), keyed by md5(text)
        # so one fixture serves every sf dir. An sf dir whose documents
        # aren't covered fails the row-count check loudly (inner join).
        "multimodal_features": f"""
            SELECT d.doc_id AS media_id, f.n_dims, f.sq_norm
            FROM documents d
            JOIN parquet_scan('{_REPO_DIR}/tests/fixtures/multimodal_features.parquet') f
              ON md5(d.text) = f.text_md5
            WHERE length(d.text) > 0
        """,
        # pixel-level oracle for the REAL BMP/PPM/JPEG codecs: expected
        # stats computed from the synthesized PIXELS outside Spark
        # (tools/make_image_fixture.py) — the engine path goes
        # pixels -> encode -> decode, so the join checks the round trip.
        # doc_id % 4 picks the format (bmp/ppm/png share one RGB pixel
        # synth, so the fixture's rgb stats cover all three; jpeg is
        # the gray block-constant mosaic — exact through the lossy
        # codec by the DC-step-8 construction, jpeg.py module doc)
        "image_decode": f"""
            SELECT d.doc_id AS media_id,
                   CASE WHEN d.doc_id % 4 = 2 THEN f.jwidth ELSE f.width END AS width,
                   CASE WHEN d.doc_id % 4 = 2 THEN f.jheight ELSE f.height END AS height,
                   CASE WHEN d.doc_id % 4 = 2 THEN f.jchannels ELSE f.channels END AS channels,
                   CASE WHEN d.doc_id % 4 = 2 THEN f.jpx_sum ELSE f.px_sum END AS px_sum,
                   CASE WHEN d.doc_id % 4 = 2 THEN f.jpx_md5 ELSE f.px_md5 END AS px_md5
            FROM documents d
            JOIN parquet_scan('{_REPO_DIR}/tests/fixtures/image_decode.parquet') f
              ON md5(d.text) = f.text_md5
            WHERE length(d.text) > 0
        """,
        "embedding_neardup": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id < 300
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.35
        """,
        "bag_aggregates": """
            SELECT user_id,
                   coalesce(string_agg(DISTINCT event_type, ','
                                       ORDER BY event_type), '') AS types_bagd,
                   coalesce(string_agg(event_type, ','
                                       ORDER BY event_type), '') AS types_bag
            FROM events GROUP BY 1
        """,
        "group_lineitem": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                   min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
            FROM lineitem GROUP BY 1, 2
        """,
        "join_dims": """
            SELECT n_name, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "project_extend": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1.0 - l_discount) AS revenue
            FROM lineitem
        """,
        "map_intervals": """
            WITH p AS (
                SELECT DISTINCT user_id, ts AS start_ts,
                       ts + INTERVAL '1 hour' AS end_ts
                FROM events WHERE event_type = 'purchase'
            ), c AS (
                SELECT user_id, ts, value FROM events WHERE event_type = 'click'
            )
            SELECT p.user_id, p.start_ts, p.end_ts,
                   count(c.ts) AS n_events,
                   CAST(sum(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS click_sum,
                   max(c.value) AS click_max
            FROM p LEFT JOIN c
              ON c.user_id = p.user_id AND c.ts >= p.start_ts AND c.ts < p.end_ts
            GROUP BY 1, 2, 3
        """,
        "flat_cover": """
            WITH iv AS (
                SELECT ts AS start_ts, ts + INTERVAL '600 seconds' AS end_ts FROM events
            ), pts AS (
                SELECT start_ts AS t, 1 AS d FROM iv
                UNION ALL SELECT end_ts AS t, -1 AS d FROM iv
            ), per_t AS (
                SELECT t, sum(d) AS d FROM pts GROUP BY t HAVING sum(d) <> 0
            ), s AS (
                SELECT t,
                       sum(d) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS acc,
                       lead(t) OVER (ORDER BY t) AS next_t
                FROM per_t
            ), seg AS (
                SELECT t AS acc_start, next_t AS acc_end, acc
                FROM s WHERE acc > 0 AND next_t IS NOT NULL
            ), in_range AS (
                SELECT *,
                       CASE WHEN lag(acc_end) OVER (ORDER BY acc_start) = acc_start
                            THEN 0 ELSE 1 END AS new_island
                FROM seg WHERE acc >= 3
            ), isl AS (
                SELECT *, sum(new_island) OVER (ORDER BY acc_start ROWS BETWEEN
                                                UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM in_range
            ), islands AS (
                SELECT min(acc_start) AS cover_start, max(acc_end) AS cover_end,
                       CAST(max(acc) AS BIGINT) AS acc_max
                FROM isl GROUP BY island
            )
            SELECT i.cover_start, i.cover_end, i.acc_max,
                   min(v.start_ts) AS flat_start, max(v.end_ts) AS flat_end
            FROM islands i JOIN iv v
              ON v.start_ts < i.cover_end AND v.end_ts > i.cover_start
            GROUP BY 1, 2, 3
        """,
        # same islands CTE as flat_cover; GMAP4's Jaccard ratios over
        # the contributing intervals (empty intersection -> 0 exactly)
        "cover_jaccard": """
            WITH iv AS (
                SELECT ts AS start_ts, ts + INTERVAL '600 seconds' AS end_ts FROM events
            ), pts AS (
                SELECT start_ts AS t, 1 AS d FROM iv
                UNION ALL SELECT end_ts AS t, -1 AS d FROM iv
            ), per_t AS (
                SELECT t, sum(d) AS d FROM pts GROUP BY t HAVING sum(d) <> 0
            ), s AS (
                SELECT t,
                       sum(d) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS acc,
                       lead(t) OVER (ORDER BY t) AS next_t
                FROM per_t
            ), seg AS (
                SELECT t AS acc_start, next_t AS acc_end, acc
                FROM s WHERE acc > 0 AND next_t IS NOT NULL
            ), in_range AS (
                SELECT *,
                       CASE WHEN lag(acc_end) OVER (ORDER BY acc_start) = acc_start
                            THEN 0 ELSE 1 END AS new_island
                FROM seg WHERE acc >= 3
            ), isl AS (
                SELECT *, sum(new_island) OVER (ORDER BY acc_start ROWS BETWEEN
                                                UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM in_range
            ), islands AS (
                SELECT min(acc_start) AS cover_start, max(acc_end) AS cover_end,
                       CAST(max(acc) AS BIGINT) AS acc_max
                FROM isl GROUP BY island
            ), contrib AS (
                SELECT i.cover_start, i.cover_end, i.acc_max,
                       count(*) AS n_contrib,
                       min(v.start_ts) AS union_s, max(v.end_ts) AS union_e,
                       max(v.start_ts) AS int_s, min(v.end_ts) AS int_e
                FROM islands i JOIN iv v
                  ON v.start_ts < i.cover_end AND v.end_ts > i.cover_start
                GROUP BY 1, 2, 3
            )
            SELECT cover_start, cover_end, acc_max, n_contrib,
                   CASE WHEN epoch_us(union_e) - epoch_us(union_s) = 0 THEN 0.0
                        ELSE CAST(epoch_us(cover_end) - epoch_us(cover_start) AS DOUBLE)
                             / CAST(epoch_us(union_e) - epoch_us(union_s) AS DOUBLE)
                   END AS jaccard_result,
                   CASE WHEN epoch_us(union_e) - epoch_us(union_s) = 0
                             OR epoch_us(int_e) - epoch_us(int_s) <= 0 THEN 0.0
                        ELSE CAST(epoch_us(int_e) - epoch_us(int_s) AS DOUBLE)
                             / CAST(epoch_us(union_e) - epoch_us(union_s) AS DOUBLE)
                   END AS jaccard_intersect
            FROM contrib
        """,
        "profile": """
            SELECT user_id, count(*) AS n_rows, min(ts) AS min_ts, max(ts) AS max_ts
            FROM events GROUP BY 1
        """,
        # salted sessionize is a semantics-preserving alternative — same
        # oracle per variant
        "sessions": """
            WITH g AS (
                SELECT user_id, ts, event_id,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
                FROM events
            ), s AS (
                SELECT user_id, ts,
                       CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS session_idx
                FROM g
            ), sess AS (
                SELECT user_id, session_idx,
                       min(ts) AS session_start, max(ts) AS session_end,
                       count(*) AS n_turns
                FROM s GROUP BY 1, 2
            )
            SELECT 'plain' AS variant, * FROM sess
            UNION ALL SELECT 'salted' AS variant, * FROM sess
        """,
        "meta_accessor": """
            WITH thr AS (
                SELECT user_id,
                       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE) AS threshold
                FROM events WHERE event_type = 'purchase' GROUP BY 1
            )
            SELECT e.event_id, e.user_id, e.value, thr.threshold
            FROM events e JOIN thr ON e.user_id = thr.user_id
            WHERE e.value >= thr.threshold
        """,
        # realtime routing must equal a plain full recompute at 1h grain
        "realtime_rollup": """
            SELECT user_id,
                   time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum,
                   min(value) AS val_min,
                   max(value) AS val_max
            FROM events GROUP BY user_id, 2
        """,
        # stitched multi-tier answer must equal the raw range filter
        "range_stitch": """
            SELECT user_id, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-03 07:41:17'
              AND ts <  TIMESTAMP '2024-01-29 21:05:03'
            GROUP BY 1
        """,
        # same integer bit-length bucket formula as sketches.log2_bucket
        "latency_histogram": """
            WITH g AS (
                SELECT user_id, ts,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
                FROM events
            )
            SELECT user_id,
                   time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   CAST(CASE WHEN gap_us = 0 THEN -1
                             ELSE length(to_base(gap_us, 2)) - 1 END AS INT) AS bucket,
                   count(*) AS n
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY 1, 2, 3
        """,
    }
    # identical md5 bucket arithmetic as operators.sampling.split_bucket
    # tag-union: the interp variant is the second half of the gapfill gate
    sql["gapfill"] = (
        "SELECT * FROM (" + sql["gapfill"] + ") UNION ALL SELECT * FROM ("
        + sql.pop("_gapfill_interp_half") + ")"
    )
    sql["dataset_split"] = """
        WITH b AS (
            SELECT doc_id,
                   (('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '#split'),1,15))::BIGINT)
                       % 10000 AS sb,
                   (('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '#sample'),1,15))::BIGINT)
                       % 10000 AS pb
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN sb < 9000 THEN 'train'
                    WHEN sb < 9500 THEN 'val'
                    ELSE 'test' END AS split,
               pb < 1000 AS in_10pct
        FROM b
    """
    sql["canonical_pick"] = """
        WITH comps AS (
            SELECT text, min(doc_id) AS component FROM documents GROUP BY text
        ), j AS (
            SELECT d.doc_id, d.text, c.component
            FROM documents d JOIN comps c ON d.text = c.text
        )
        SELECT doc_id, component,
               row_number() OVER (
                   PARTITION BY component
                   ORDER BY length(text) DESC, doc_id ASC) = 1 AS is_canonical
        FROM j
    """
    return sql
