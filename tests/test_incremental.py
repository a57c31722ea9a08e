"""Incremental continuous aggregates: K-batch append + per-date refresh
must equal the one-shot rollup bit-for-bit at every tier."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.incremental import append_transcripts, read_conv_state, refresh_tiers
from gmql_spark.operators.rollup import PCT_NAMES, rollup_all_tiers
from tests.conftest import assert_pdf_equal

FLOATS = (*PCT_NAMES, "latency_sum_us")


@pytest.fixture(scope="module")
def split_data(spark):
    """Full dataset + a 2-batch per-conversation-ordered split: batch 1 =
    each conversation's FIRST HALF of turns, batch 2 = the rest. A
    global time cut does NOT make conversations straddle (datagen convs
    are compact sessions), so split by per-conv turn_idx — every
    multi-turn conversation straddles and cross-batch gap continuity is
    genuinely exercised (asserted below)."""
    from pyspark.sql.window import Window

    raw = datagen.transcripts_spark(spark, n_conv=50)
    w = Window.partitionBy("conv_id")
    half = raw.withColumn("_n", F.max("turn_idx").over(w))
    b1 = half.filter(F.col("turn_idx") <= F.col("_n") / 2).drop("_n")
    b2 = half.filter(F.col("turn_idx") > F.col("_n") / 2).drop("_n")
    n_straddle = b1.select("conv_id").intersect(b2.select("conv_id")).count()
    assert n_straddle > 0, "no conversation straddles the split"
    return raw, b1, b2


def _read_tier(spark, out_dir, tier):
    return (
        spark.read.parquet(f"{out_dir}/rollup_{tier}")
        .drop("window_date")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )


def test_incremental_equals_oneshot(spark, tmp_path, split_data):
    raw, b1, b2 = split_data
    fact = str(tmp_path / "fact")
    out = str(tmp_path / "tiers")

    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1)
    d2 = append_transcripts(spark, b2, fact, n_buckets=4)
    res = refresh_tiers(spark, fact, out, dates=d2)

    # "rows" (read from the parquet footers) counts each tier's rows of
    # the refreshed dates
    for tier in ("1m", "1h", "1d"):
        n = (
            spark.read.parquet(f"{out}/rollup_{tier}")
            .filter(F.col("window_date").isin([str(d) for d in d2]))
            .count()
        )
        assert res["rows"][tier] == n > 0, (tier, res["rows"])

    # the refresh's raw read partition-prunes to the affected dates
    pruned = spark.read.parquet(fact).filter(
        F.col("event_date").isin([str(d) for d in d2])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan

    expected = rollup_all_tiers(raw)
    for tier in ("1m", "1h", "1d"):
        got = _read_tier(spark, out, tier)
        exp = (
            expected[tier]
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        assert_pdf_equal(got, exp[got.columns], ["conv_id", "window_start"],
                         float_cols=FLOATS)


def test_conv_state_and_cross_batch_gap(spark, tmp_path, split_data):
    """The state table carries each conv's last_ts; the first batch-2
    turn of a straddling conv gets the exact cross-batch gap."""
    raw, b1, b2 = split_data
    fact = str(tmp_path / "fact2")
    append_transcripts(spark, b1, fact, n_buckets=2)
    state = read_conv_state(spark, fact)
    exp_last = b1.groupBy("conv_id").agg(F.max(F.unix_micros("ts")).alias("last_us"))
    diff = state.join(exp_last.withColumnRenamed("last_us", "e"), "conv_id").filter(
        "last_us != e"
    )
    assert diff.count() == 0

    append_transcripts(spark, b2, fact, n_buckets=2)
    stored = spark.read.parquet(fact).select("conv_id", "turn_idx", "gap_us")
    from gmql_spark.operators.rollup import with_gap_seconds

    full = with_gap_seconds(raw.select("conv_id", "turn_idx", "ts"), order="turn_idx")
    j = stored.join(
        full.select("conv_id", "turn_idx", F.col("gap_us").alias("exp_gap")),
        on=["conv_id", "turn_idx"],
    )
    bad = j.filter(
        ~(F.col("gap_us").eqNullSafe(F.col("exp_gap")))
    ).count()
    assert bad == 0

    # refusal path: refresh over dates needs the fact table to exist
    with pytest.raises(Exception):
        refresh_tiers(spark, str(tmp_path / "nope"), str(tmp_path / "o"), dates=["2026-01-01"])


def test_state_join_is_not_forced_broadcast(spark, tmp_path, split_data):
    """The state side must not carry a broadcast hint: with auto-broadcast
    disabled the gap join must plan as a shuffle join (a hint would force
    BroadcastHashJoin regardless of the threshold). At warehouse scale the
    state table is O(#conversations) and cannot be broadcast."""
    from gmql_spark.incremental import _with_cross_batch_gaps

    _, b1, _ = split_data
    state = b1.groupBy("conv_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us")
    ).withColumn("conv_bucket", F.lit(0))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = _with_cross_batch_gaps(b1, state, "conv_id", "ts", ("turn_idx",))
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in plan
        phys = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in phys, phys
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_intent_marker_blocks_append_after_crash(spark, tmp_path, split_data):
    """A leftover INTENT marker (crash between fact append and pointer
    swap) must fail the next append loudly instead of silently computing
    gaps from stale state."""
    from gmql_spark.incremental import _intent_file, _state_root

    _, b1, b2 = split_data
    fact = str(tmp_path / "fact3")
    append_transcripts(spark, b1, fact, n_buckets=2)
    with open(_intent_file(_state_root(fact)), "w") as f:
        f.write("{}")
    with pytest.raises(RuntimeError, match="INTENT"):
        append_transcripts(spark, b2, fact, n_buckets=2)


def test_append_refuses_foreign_fact_table(spark, tmp_path, split_data):
    """A non-empty bucketed fact table with no conv state was not built
    by append_transcripts; appending would compute wrong cross-batch gaps."""
    from gmql_spark.sources.catalog import write_transcripts

    _, b1, b2 = split_data
    fact = str(tmp_path / "fact4")
    write_transcripts(b1, fact, n_buckets=2)
    with pytest.raises(RuntimeError, match="conv state"):
        append_transcripts(spark, b2, fact, n_buckets=2)


def test_stream_ingest_equals_oneshot(spark, tmp_path, split_data):
    """readStream -> foreachBatch(append + refresh): after draining the
    source (two time-ordered files, one per micro-batch), every tier
    equals the one-shot batch rollup bit-for-bit — the streaming face of
    the incremental contract."""
    import os
    import shutil
    import time

    from gmql_spark.streaming.ingest_stream import stream_ingest

    raw, b1, b2 = split_data
    src = str(tmp_path / "ingest_src")
    os.makedirs(src)

    def write_one_file(df, name):
        tmp = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part), os.path.join(src, name))
        shutil.rmtree(tmp)

    write_one_file(b1, "b1.parquet")
    time.sleep(1.1)  # file-source orders by modification time
    write_one_file(b2, "b2.parquet")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    fact = str(tmp_path / "ingest_fact")
    out = str(tmp_path / "ingest_tiers")
    q = stream_ingest(
        stream, fact, out, checkpoint_dir=str(tmp_path / "ingest_ckpt"), n_buckets=4
    )
    q.awaitTermination(300)

    expected = rollup_all_tiers(raw)
    for tier in ("1m", "1h", "1d"):
        got = _read_tier(spark, out, tier)
        exp = (
            expected[tier]
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        assert_pdf_equal(got, exp[got.columns], ["conv_id", "window_start"],
                         float_cols=FLOATS)


def test_state_read_prunes_to_batch_buckets(spark, tmp_path, split_data):
    """A batch touching one conversation must read only that conv's
    state bucket partition (PartitionFilters on conv_bucket), not the
    whole state table."""
    raw, b1, b2 = split_data
    fact = str(tmp_path / "fact5")
    append_transcripts(spark, b1, fact, n_buckets=4)

    one_conv = b2.filter(
        F.col("conv_id") == b2.select("conv_id").first().conv_id
    )
    # reproduce the pruned read the append performs
    bucket = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(4)).cast("int")
    touched = [r.b for r in one_conv.select(bucket.alias("b")).distinct().collect()]
    assert len(touched) == 1
    state = read_conv_state(spark, fact).filter(F.col("conv_bucket").isin(touched))
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "conv_bucket" in plan
    # and the append itself stays exact for that conv
    append_transcripts(spark, one_conv, fact, n_buckets=4)
    stored = (
        spark.read.parquet(fact)
        .filter(F.col("conv_id") == one_conv.first().conv_id)
        .select("conv_id", "turn_idx", "gap_us")
    )
    from gmql_spark.operators.rollup import with_gap_seconds

    full = with_gap_seconds(
        raw.filter(F.col("conv_id") == one_conv.first().conv_id)
        .filter(F.col("ts") <= one_conv.agg(F.max("ts")).first()[0])
        .select("conv_id", "turn_idx", "ts"),
        order="turn_idx",
    )
    j = stored.join(
        full.select("conv_id", "turn_idx", F.col("gap_us").alias("exp")), 
        on=["conv_id", "turn_idx"],
    )
    assert j.filter(~F.col("gap_us").eqNullSafe(F.col("exp"))).count() == 0


def test_out_of_order_append_is_refused(spark, tmp_path, split_data):
    """A batch with rows at/before a conversation's recorded last_us
    violates the ordered-append contract and must fail loudly (silent
    wrong gap_us would break one-shot equivalence). Appending the
    batches in the wrong order trips it; the fact table and state stay
    untouched."""
    _, b1, b2 = split_data
    fact = str(tmp_path / "fact_ooo")
    append_transcripts(spark, b2, fact, n_buckets=4)  # later half first
    state_before = read_conv_state(spark, fact).count()
    with pytest.raises(RuntimeError, match="time-ordered contract"):
        append_transcripts(spark, b1, fact, n_buckets=4)
    # refused append left no INTENT marker and didn't touch state
    assert read_conv_state(spark, fact).count() == state_before
    append_transcripts(
        spark,
        b1.withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 100 DAYS")
        ),
        fact,
        n_buckets=4,
    )  # a genuinely later batch still appends fine


def test_append_refuses_n_buckets_mismatch(spark, tmp_path, split_data):
    """The fact layout and state pruning hash with n_buckets; a second
    append with a different value must fail loudly, not silently prune
    away existing conversations' state."""
    _, b1, b2 = split_data
    fact = str(tmp_path / "fact_nb")
    append_transcripts(spark, b1, fact, n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        append_transcripts(spark, b2, fact, n_buckets=8)
    # the original value still works
    append_transcripts(spark, b2, fact, n_buckets=4)


def test_incremental_sketch_tiers_equal_oneshot(spark, tmp_path, split_data):
    """refresh_tiers(with_sketches=True): incrementally maintained
    sketch columns must equal a one-shot sketch rollup (the sketches
    are mergeable and per-date independent like everything else)."""
    from gmql_spark.operators.rollup import rollup

    raw, b1, b2 = split_data
    fact = str(tmp_path / "fact_sk")
    out = str(tmp_path / "tiers_sk")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1, tiers=("1m", "1h"), with_sketches=True)
    d2 = append_transcripts(spark, b2, fact, n_buckets=4)
    res = refresh_tiers(
        spark, fact, out, dates=d2, tiers=("1m", "1h"), with_sketches=True
    )
    for tier in ("1m", "1h"):
        n = (
            spark.read.parquet(f"{out}/rollup_{tier}")
            .filter(F.col("window_date").isin([str(d) for d in d2]))
            .count()
        )
        assert res["rows"][tier] == n > 0, (tier, res["rows"])

    for tier in ("1m", "1h"):
        got = (
            spark.read.parquet(f"{out}/rollup_{tier}").drop("window_date")
            .toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
        )
        assert "lat_hist" in got.columns
        exp = (
            rollup(raw, tier, with_sketches=True)
            .toPandas().sort_values(["conv_id", "window_start"]).reset_index(drop=True)
        )
        assert list(got.columns) == list(exp.columns)
        import pandas as pd

        hist_g = [sorted(dict(h).items()) if h is not None else None for h in got["lat_hist"]]
        hist_e = [sorted(dict(h).items()) if h is not None else None for h in exp["lat_hist"]]
        assert hist_g == hist_e
        pd.testing.assert_frame_equal(
            got[["conv_id", "window_start", "turn_count"]],
            exp[["conv_id", "window_start", "turn_count"]],
        )


def test_refresh_sketch_mode_guard(spark, tmp_path, split_data):
    """A refresh must not mix sketch-less partitions into a
    sketch-carrying tier table: the default adopts the existing mode,
    an explicit contradiction raises."""
    _, b1, b2 = split_data
    fact = str(tmp_path / "fact_skg")
    out = str(tmp_path / "tiers_skg")
    d1 = append_transcripts(spark, b1, fact, n_buckets=4)
    refresh_tiers(spark, fact, out, dates=d1, tiers=("1m",), with_sketches=True)

    d2 = append_transcripts(spark, b2, fact, n_buckets=4)
    # default (None) adopts sketch mode
    refresh_tiers(spark, fact, out, dates=d2, tiers=("1m",))
    cols = spark.read.parquet(f"{out}/rollup_1m").columns
    assert "lat_hist" in cols
    # every partition carries the sketch columns (no mixed schemas)
    n_null = spark.read.parquet(f"{out}/rollup_1m").filter("lat_hist is null").count()
    assert n_null == 0

    with pytest.raises(ValueError, match="with_sketches"):
        refresh_tiers(spark, fact, out, dates=d2, tiers=("1m",), with_sketches=False)
