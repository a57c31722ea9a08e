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


def _assert_tiers_equal_oneshot(spark, out_dir, raw):
    expected = rollup_all_tiers(raw)
    for tier in ("1m", "1h", "1d"):
        got = _read_tier(spark, out_dir, tier)
        exp = (
            expected[tier]
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        assert_pdf_equal(got, exp[got.columns], ["conv_id", "window_start"],
                         float_cols=FLOATS)


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

    _assert_tiers_equal_oneshot(spark, out, raw)


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
        out = _with_cross_batch_gaps(b1, state)
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
    from gmql_spark.incremental import _intent_file
    from gmql_spark.sources.catalog import state_root

    _, b1, b2 = split_data
    fact = str(tmp_path / "fact3")
    append_transcripts(spark, b1, fact, n_buckets=2)
    with open(_intent_file(state_root(fact)), "w") as f:
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

    _assert_tiers_equal_oneshot(spark, out, raw)


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
    import glob
    import os

    _, b1, b2 = split_data
    fact = str(tmp_path / "fact_ooo")
    append_transcripts(spark, b2, fact, n_buckets=4)  # later half first
    state_before = read_conv_state(spark, fact).count()
    files_before = sorted(glob.glob(f"{fact}/conv_bucket=*/event_date=*/*.parquet"))
    with pytest.raises(RuntimeError, match="time-ordered contract"):
        append_transcripts(spark, b1, fact, n_buckets=4)
    # refused append left no INTENT marker, no staged rows, and didn't
    # touch the state or the fact table
    assert read_conv_state(spark, fact).count() == state_before
    assert sorted(glob.glob(f"{fact}/conv_bucket=*/event_date=*/*.parquet")) == files_before
    assert not os.path.exists(f"{fact}/_append_staging")
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


def test_append_and_refresh_job_budget(spark, tmp_path, split_data):
    """An append runs one aggregate for its bookkeeping values
    (touched buckets, event-time range, touched dates), opens the conv
    state with its footer schema, evaluates the batch once in a staged
    write that observes the late-row count, and merges the new state
    version from the staged rows in one group-by; a refresh of three
    tiers reads its sketch-mode probe and the fact schema from parquet
    footers and builds every tier in one one-exchange plan, written
    once, with the watermark observed on that write. Measured: 9 jobs
    per append (15 with a state schema inference, a separate late count
    and a fact write that re-read the batch) and 2 per refresh (16 with
    one write per tier, 6 with a schema inference and a three-exchange
    tool map)."""
    from tests.conftest import spark_jobs

    _, b1, b2 = split_data
    fact, out = str(tmp_path / "fact"), str(tmp_path / "tiers")
    refresh_tiers(spark, fact, out, dates=append_transcripts(spark, b1, fact, n_buckets=4))
    dates = []
    assert spark_jobs(
        spark, lambda: dates.extend(append_transcripts(spark, b2, fact, n_buckets=4))
    ) <= 9
    res = {}
    assert spark_jobs(
        spark, lambda: res.update(refresh_tiers(spark, fact, out, dates=dates))
    ) <= 2
    ts_max = b2.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    assert res["watermark_us"] == ts_max


def test_empty_append_commits_nothing(spark, tmp_path, split_data):
    """A batch without rows returns no dates and commits nothing: the
    CURRENT pointer, the state directory and the append log stay as
    they were, and no staging is left behind."""
    import os

    from tests.conftest import spark_jobs

    _, b1, _ = split_data
    fact = str(tmp_path / "fact")
    append_transcripts(spark, b1, fact, n_buckets=4)
    root = f"{fact}/_conv_state"

    def snapshot():
        with open(f"{root}/CURRENT") as f, open(f"{root}/_append_log.jsonl") as g:
            return f.read(), sorted(os.listdir(root)), g.read()

    before = snapshot()
    empty = b1.filter(F.col("turn_idx") < 0)
    dates = []
    # as many jobs as one global aggregate of the batch: the bookkeeping
    # aggregate alone runs, and nothing is written
    assert spark_jobs(
        spark, lambda: dates.extend(append_transcripts(spark, empty, fact, n_buckets=4))
    ) == spark_jobs(spark, lambda: empty.groupBy().count().collect())
    assert dates == []
    assert snapshot() == before
    assert not os.path.exists(f"{fact}/_append_staging")
    # an empty first append creates no table at all
    fresh = str(tmp_path / "fresh")
    assert append_transcripts(spark, empty, fresh, n_buckets=4) == []
    assert not os.path.exists(fresh)


def test_warm_ingest_cycle_compiles_nothing(spark, tmp_path, split_data):
    """An append → refresh → realtime query → compaction cycle that
    repeats on a copy of the same tables finds every generated class in
    the codegen cache: it compiles none. (At Spark's default cache of
    100 entries the cycle's working set does not fit, and every repeat
    recompiles all of it.)"""
    import shutil

    from gmql_spark.realtime import realtime_rollup
    from gmql_spark.retention import compact_fact_table, compact_tier_tables
    from tests.conftest import codegen_compiles

    _, b1, b2 = split_data
    base = tmp_path / "base"
    refresh_tiers(
        spark, f"{base}/fact", f"{base}/tiers",
        dates=append_transcripts(spark, b1, f"{base}/fact", n_buckets=4),
    )
    for copy in ("first", "second"):
        shutil.copytree(base, tmp_path / copy)

    def cycle(copy):
        fact, out = f"{tmp_path / copy}/fact", f"{tmp_path / copy}/tiers"
        refresh_tiers(
            spark, fact, out, dates=append_transcripts(spark, b2, fact, n_buckets=4)
        )
        realtime_rollup(spark, fact, out, tier="1h").count()
        compact_fact_table(spark, fact, min_files=1)
        compact_tier_tables(spark, out, min_files=1)

    cycle("first")
    assert codegen_compiles(spark, lambda: cycle("second")) == 0


@pytest.mark.parametrize("mode,budget", [(True, 2), ("digest", 9)])
def test_sketch_refresh_job_budget(spark, tmp_path, split_data, mode, budget):
    """A sketch refresh is one plan and one write too: ``lat_hist`` and
    ``tool_hll`` come out of the fused aggregate, and only the digests
    cascade tier to tier inside that plan. Measured: 2 jobs with
    sketches (31 with a staged write and a cascade ⨝ exact-percentiles
    plan per tier), 9 with digests (40)."""
    from tests.conftest import spark_jobs

    _, b1, b2 = split_data
    fact, out = str(tmp_path / "fact"), str(tmp_path / "tiers")
    refresh_tiers(
        spark, fact, out, dates=append_transcripts(spark, b1, fact, n_buckets=4),
        with_sketches=mode,
    )
    dates = append_transcripts(spark, b2, fact, n_buckets=4)
    assert spark_jobs(
        spark, lambda: refresh_tiers(spark, fact, out, dates=dates, with_sketches=mode)
    ) <= budget


def test_refresh_jobs_do_not_grow_with_table_age(spark, tmp_path):
    """A one-date refresh lists and reads only that date's fact leaves,
    with the schema from a footer: on a 120-date table it runs as many
    Spark jobs as on a 2-date table. (Opening the whole table lists
    every leaf, in Spark jobs once a bucket holds more dates than the
    parallel-discovery threshold, and infers the schema in one more.)"""
    import datetime as dt

    from gmql_spark.sources.catalog import write_transcripts
    from tests.conftest import spark_jobs

    day0 = dt.datetime(2026, 1, 1, 12)
    jobs = {}
    for n_days in (2, 120):
        rows = [
            (f"c{d}_{k}", i, "user", None, day0 + dt.timedelta(days=d, minutes=3 * k + i))
            for d in range(n_days)
            for k in range(3)
            for i in range(2)
        ]
        fact, out = str(tmp_path / f"fact{n_days}"), str(tmp_path / f"tiers{n_days}")
        write_transcripts(
            spark.createDataFrame(
                rows, "conv_id string, turn_idx int, role string, tool string, ts timestamp"
            ),
            fact, n_buckets=2, precompute_gaps=True,
        )
        res = {}
        jobs[n_days] = spark_jobs(
            spark, lambda: res.update(refresh_tiers(spark, fact, out, dates=["2026-01-02"]))
        )
        assert res["rows"]["1m"] == 6, res
    assert jobs[120] == jobs[2], jobs


def test_append_log_and_dates_with_null_ts_row(spark, tmp_path, split_data):
    """A null-ts batch row is reported as a None touched date (and
    "None" in the append-log line) next to the real dates; the logged
    event-time range spans the non-null rows."""
    from gmql_spark.incremental import read_append_log

    _, b1, _ = split_data
    nulls = b1.limit(1).withColumn("ts", F.lit(None).cast("timestamp"))
    fact = str(tmp_path / "fact")
    touched = append_transcripts(spark, b1.unionByName(nulls), fact, n_buckets=4)
    days = sorted(r.d for r in b1.select(F.to_date("ts").alias("d")).distinct().collect())
    assert None in touched and sorted(d for d in touched if d is not None) == days
    (line,) = read_append_log(fact)
    us = F.unix_micros("ts")
    lo, hi = b1.agg(F.min(us), F.max(us)).collect()[0]
    assert line["min_us"] == lo and line["max_us"] == hi
    assert line["dates"] == sorted([*(str(d) for d in days), "None"])


def test_refresh_crash_between_leaf_swaps_is_repaired_by_rerun(
    spark, tmp_path, split_data, monkeypatch
):
    """A crash part-way through a refresh's leaf swaps — one leaf
    already swapped, the next one renamed aside but its staged leaf not
    yet in — leaves the staging directory and the old refresh manifest
    behind; rerunning the refresh for the same dates gives tiers equal
    to the one-shot rollup and leaves no staging or trash directory."""
    import os

    from gmql_spark.realtime import read_refresh_manifest

    raw, b1, b2 = split_data
    fact, out = str(tmp_path / "fact"), str(tmp_path / "tiers")
    refresh_tiers(spark, fact, out, dates=append_transcripts(spark, b1, fact, n_buckets=4))
    d2 = append_transcripts(spark, b2, fact, n_buckets=4)
    manifest = read_refresh_manifest(out)

    staged_in = []
    real_rename = os.rename

    def crash_on_second_staged_leaf(src, dst):
        if "_refresh_staging" in src:
            staged_in.append(dst)
            if len(staged_in) == 2:
                raise OSError("injected crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second_staged_leaf)
    with pytest.raises(OSError, match="injected crash"):
        refresh_tiers(spark, fact, out, dates=d2)
    monkeypatch.undo()
    assert os.path.isdir(f"{out}/_refresh_staging")
    assert os.path.isdir(staged_in[0]) and not os.path.exists(staged_in[1])
    assert read_refresh_manifest(out) == manifest

    res = refresh_tiers(spark, fact, out, dates=d2)
    assert res["watermark_us"] == b2.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    assert sorted(os.listdir(out)) == [
        "_refresh_watermark.json", "rollup_1d", "rollup_1h", "rollup_1m"
    ]
    for tier in ("1m", "1h", "1d"):
        assert all(
            e.startswith("window_date=") for e in os.listdir(f"{out}/rollup_{tier}")
        )
    _assert_tiers_equal_oneshot(spark, out, raw)


def test_refresh_raises_on_unreadable_tier_footer(spark, tmp_path, split_data):
    """A tier table whose footer cannot be read is not taken as absent:
    the refresh raises before it writes, and no leaf of any tier table
    changes (the sketch-mode check cannot see that table's columns)."""
    import glob
    import hashlib
    import os
    from pathlib import Path

    import pyarrow as pa

    _, b1, b2 = split_data
    fact, out = str(tmp_path / "fact"), str(tmp_path / "tiers")
    refresh_tiers(spark, fact, out, dates=append_transcripts(spark, b1, fact, n_buckets=4))
    d2 = append_transcripts(spark, b2, fact, n_buckets=4)
    # the file whose footer the 1h table's schema is read from
    first = sorted(glob.glob(f"{out}/rollup_1h/window_date=*/*.parquet"))[0]
    with open(first, "r+b") as f:
        f.truncate(os.path.getsize(first) // 2)

    def snapshot():
        return {
            p: hashlib.md5(Path(p).read_bytes()).hexdigest()
            for p in glob.glob(f"{out}/rollup_*/**/*.parquet", recursive=True)
        }

    before = snapshot()
    with pytest.raises(pa.ArrowInvalid):
        refresh_tiers(spark, fact, out, dates=d2)
    assert snapshot() == before


def test_refresh_leaves_dates_without_fact_rows_alone(spark, tmp_path, split_data):
    """A refreshed date with no fact rows stages no leaf: its existing
    tier leaf is kept as it was (its raw rows were expired), and a date
    that never had rows gets no leaf — while a date with rows in the
    same refresh is rewritten."""
    import glob
    import os
    import shutil

    _, b1, _ = split_data
    fact, out = str(tmp_path / "fact"), str(tmp_path / "tiers")
    d1 = [str(d) for d in append_transcripts(spark, b1, fact, n_buckets=4)]
    refresh_tiers(spark, fact, out, dates=d1)
    assert len(d1) >= 2
    expired, kept = d1[0], d1[1]
    for leaf in glob.glob(f"{fact}/conv_bucket=*/event_date={expired}"):
        shutil.rmtree(leaf)

    def files(tier, d):
        leaf = f"{out}/rollup_{tier}/window_date={d}"
        return sorted(os.listdir(leaf)) if os.path.isdir(leaf) else None

    before = {(t, d): files(t, d) for t in ("1m", "1h", "1d") for d in (expired, kept)}
    res = refresh_tiers(spark, fact, out, dates=[expired, kept, "2000-01-01"])
    for t in ("1m", "1h", "1d"):
        assert files(t, expired) == before[t, expired]  # same files, untouched
        assert files(t, kept) != before[t, kept]  # rewritten
        assert files(t, "2000-01-01") is None
        n = spark.read.parquet(f"{out}/rollup_{t}").filter(
            F.col("window_date").isin(expired, kept)
        ).count()
        assert res["rows"][t] == n


def test_refresh_leaves_partition_overwrite_mode_alone(
    spark, tmp_path, split_data, monkeypatch
):
    """A refresh never sets ``spark.sql.sources.partitionOverwriteMode``:
    other writers sharing the session keep their overwrite semantics."""
    _, b1, _ = split_data
    key = "spark.sql.sources.partitionOverwriteMode"
    conf_cls = type(spark.conf)
    real_set = conf_cls.set
    keys_set = []

    def recording_set(self, k, v):
        keys_set.append(k)
        return real_set(self, k, v)

    before = spark.conf.get(key)
    monkeypatch.setattr(conf_cls, "set", recording_set)
    fact, out = str(tmp_path / "fact"), str(tmp_path / "tiers")
    refresh_tiers(spark, fact, out, dates=append_transcripts(spark, b1, fact, n_buckets=4))
    monkeypatch.undo()
    assert key not in keys_set
    assert spark.conf.get(key) == before


def test_refresh_rejects_fact_tables_it_cannot_refresh(spark, tmp_path, split_data):
    """``refresh_tiers`` refuses, before it writes anything, a fact table
    without the stored ``gap_us`` (each conversation's first turn of a
    date would lose its gap across the date) and one without the
    ``event_date`` level (no leaf would match, and nothing would be
    refreshed)."""
    from gmql_spark.sources.catalog import write_transcripts

    raw, _, _ = split_data
    date = str(raw.agg(F.min(F.to_date("ts"))).collect()[0][0])
    out = tmp_path / "tiers"
    for name, missing, kw in (
        ("no_gaps", "gap_us", {}),
        ("no_days", "event_date", {"precompute_gaps": True, "partition_days": False}),
    ):
        fact = str(tmp_path / name)
        write_transcripts(raw, fact, n_buckets=2, **kw)
        with pytest.raises(ValueError, match=f"without {missing}"):
            refresh_tiers(spark, fact, str(out), dates=[date])
        assert not out.exists()
