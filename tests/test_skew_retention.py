"""Salted two-phase agg == direct agg (equality law) and tier-aware
retention expiry."""

from __future__ import annotations

from datetime import date

import pandas as pd
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.operators.rollup import with_gap_seconds
from gmql_spark.operators.skew import salted_conv_stats
from gmql_spark.retention import apply_retention, expire_partitions
from gmql_spark.sources.catalog import write_transcripts


def test_salted_equals_direct(spark):
    raw = with_gap_seconds(datagen.transcripts_spark(spark, n_conv=60))
    direct = (
        raw.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("turn_count"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum("gap_us").alias("latency_sum_us"),
        )
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    salted = (
        salted_conv_stats(raw, n_salts=8)
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, salted[direct.columns], check_dtype=False)


def test_asof_join_hot_key(spark):
    """Documented hot-key bound of asof_join: one key holding 2x10^5
    rows must still complete and stay correct (its history sorts in one
    partition — the per-key parallelism floor the docstring states)."""
    from gmql_spark.operators.join import asof_join

    n = 200_000
    left = spark.range(n).select(
        F.lit("hot").alias("k"),
        F.timestamp_micros((F.col("id") * 1_000_000 + 500_000).cast("long")).alias("ts"),
        F.col("id").alias("lid"),
    )
    right = spark.range(n).select(
        F.lit("hot").alias("k"),
        F.timestamp_micros((F.col("id") * 1_000_000).cast("long")).alias("ts"),
    )
    out = asof_join(left, right, keys=["k"], ts="ts", right_cols=())
    # every left row at t+0.5s matches the right row at t exactly
    bad = out.filter(
        F.unix_micros("ts") - F.unix_micros("ts_right") != 500_000
    ).count()
    assert bad == 0
    assert out.count() == n


def test_retention_expiry(spark, tmp_path):
    raw = datagen.transcripts_spark(spark, n_conv=40)
    wh = tmp_path / "wh"
    write_transcripts(raw, str(wh / "transcripts"), n_buckets=2)

    # datagen spans 2026-01; expire everything before 2026-01-15
    as_of = date(2026, 1, 25)
    expired = expire_partitions(str(wh / "transcripts"), keep_days=10, as_of=as_of)
    assert expired and all("event_date=2026-01-0" in p or "event_date=2026-01-1" in p for p in expired)

    back = spark.read.parquet(str(wh / "transcripts"))
    assert back.count() > 0
    min_date = back.agg(F.min("event_date")).collect()[0][0]
    assert min_date >= date(2026, 1, 15)

    # dry-run reports but deletes nothing
    before = back.count()
    rep = apply_retention(str(wh), {"raw": 5}, as_of=as_of, dry_run=True)
    assert rep["raw"]
    assert spark.read.parquet(str(wh / "transcripts")).count() == before


def test_tier_retention_expires_window_dates(spark, tmp_path):
    """Retention takes each table's date level from the table layer: the
    tier tables ``refresh_tiers`` writes expire their ``window_date``
    leaves past the horizon, the dates raw expires; a table without a
    date level (``run_pipeline``'s ``bucket`` tiers) raises instead of
    expiring nothing, and ``run_pipeline.py`` refuses a tier
    ``--retention`` entry before it runs."""
    import os

    import pytest

    import run_pipeline as run_pipeline_script
    from gmql_spark.checkpoint import run_pipeline
    from gmql_spark.incremental import append_transcripts, refresh_tiers

    raw = datagen.transcripts_spark(spark, n_conv=40)
    wh = str(tmp_path / "wh")
    fact = f"{wh}/transcripts"
    refresh_tiers(spark, fact, wh, dates=append_transcripts(spark, raw, fact, n_buckets=2))
    as_of = date(2026, 1, 25)
    policy = {"raw": 10, "1m": 10, "1h": 10, "1d": 10}
    rep = apply_retention(wh, policy, as_of=as_of, dry_run=True)
    raw_dates = {p.rsplit("=", 1)[1] for p in rep["raw"]}
    assert raw_dates and max(raw_dates) < "2026-01-15"
    for tier in ("1m", "1h", "1d"):
        table = f"{wh}/rollup_{tier}"
        assert rep[tier] == [f"{table}/window_date={d}" for d in sorted(raw_dates)]
        assert all(os.path.isdir(p) for p in rep[tier])  # dry run
    apply_retention(wh, {"1h": 10}, as_of=as_of)
    left = spark.read.parquet(f"{wh}/rollup_1h")
    assert left.agg(F.min("window_date")).collect()[0][0] >= date(2026, 1, 15)

    pipe = str(tmp_path / "pipe")
    run_pipeline(spark, raw, pipe, tiers=("1m",), n_buckets=2)
    with pytest.raises(ValueError, match="no date partition level"):
        expire_partitions(f"{pipe}/rollup_1m", keep_days=10, as_of=as_of)
    assert apply_retention(pipe, {"1m": None}) == {"1m": []}  # kept forever
    with pytest.raises(SystemExit):
        run_pipeline_script.main(
            ["--input", fact, "--out", str(tmp_path / "cli"), "--retention", "raw=5,1m=5"]
        )
    assert not os.path.exists(tmp_path / "cli")


def test_sessionize_hot_key(spark):
    """Documented hot-key bound of sessionize: one conversation holding
    10^6 turns must complete and stay exact (its history sorts in one
    partition — the per-key parallelism floor the docstring states).
    Events tick every 1 s with a >timeout jump every 1000 events, so the
    expected output is exactly 1000 sessions of 1000 turns each."""
    from gmql_spark.operators.session import sessionize

    n, per = 1_000_000, 1000
    # ts = id*1s + 3600s per completed block => inter-block gap = 3601 s
    df = spark.range(n).select(
        F.lit("hot").alias("conv_id"),
        F.timestamp_micros(
            (F.col("id") * 1_000_000 + (F.col("id") / per).cast("long") * 3_600_000_000).cast("long")
        ).alias("ts"),
    )
    out = sessionize(df, gap_timeout_s=1800.0)
    assert out.count() == n // per
    assert out.filter(F.col("n_turns") != per).count() == 0
    # every session spans exactly (per-1) seconds
    span_bad = out.filter(
        F.unix_micros("session_end") - F.unix_micros("session_start")
        != (per - 1) * 1_000_000
    ).count()
    assert span_bad == 0


def test_compact_partitions(spark, tmp_path):
    """Compaction rewrites fragmented date partitions into one file each
    without changing the data, and leaves un-fragmented partitions'
    files untouched."""
    import os

    from gmql_spark import datagen
    from gmql_spark.retention import compact_partitions

    raw = datagen.transcripts_spark(spark, n_conv=20)
    path = str(tmp_path / "tier")
    frag = raw.withColumn("window_date", F.to_date("ts")).repartition(8)
    frag.write.mode("overwrite").partitionBy("window_date").parquet(path)

    def files_per_part():
        return {
            d.split("=", 1)[1]: sum(
                1 for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
            )
            for d in os.listdir(path) if d.startswith("window_date=")
        }

    before_rows = spark.read.parquet(path).toPandas()
    before = files_per_part()
    assert any(v > 2 for v in before.values())
    rewritten = compact_partitions(spark, path, min_files=2)
    assert set(rewritten) == {k for k, v in before.items() if v > 2}
    after = files_per_part()
    assert all(after[k] == 1 for k in rewritten)
    # untouched partitions keep their file counts
    assert all(after[k] == v for k, v in before.items() if k not in rewritten)
    after_rows = spark.read.parquet(path).toPandas()
    key = ["conv_id", "turn_idx"]
    pd.testing.assert_frame_equal(
        before_rows.sort_values(key).reset_index(drop=True)[sorted(before_rows.columns)],
        after_rows.sort_values(key).reset_index(drop=True)[sorted(after_rows.columns)],
    )

    # a fact table (conv_bucket=*/event_date=*) with one date fragmented
    # in both buckets: one entry per fragmented leaf, keyed by its path
    from gmql_spark.sources.catalog import leaves, write_transcripts

    fact = str(tmp_path / "fact")
    for _ in range(2):
        write_transcripts(raw, fact, n_buckets=2, mode="append")
    frag = {
        os.path.relpath(lf, fact): n for lf in leaves(fact)
        if (n := sum(f.endswith(".parquet") for f in os.listdir(lf))) > 1
    }
    dates = [rel.split("event_date=", 1)[1] for rel in frag]
    assert any(dates.count(d) == 2 for d in dates), frag
    assert compact_partitions(spark, fact, partition_col="event_date", min_files=1) == frag


# ------------------------------- range-salt paths (round 4)


def test_asof_salted_equals_unsalted(spark):
    """salt_bucket_s asof == unsalted on mixed skewed data: many keys,
    gaps larger than the bucket (carry-in must stitch across several
    empty buckets), null right attributes (per-column carry), both
    directions, and tolerance."""
    import random

    from gmql_spark.operators.join import asof_join

    rng = random.Random(41)
    lrows, rrows = [], []
    for k in ("a", "b", "hot"):
        n = 400 if k == "hot" else 40
        t = 0
        for i in range(n):
            t += rng.randint(1, 7200)  # gaps up to 2h vs 600s buckets
            lrows.append((k, t * 1_000_000, len(lrows)))
        t = 3
        for i in range(n):
            t += rng.randint(1, 9000)
            # sprinkle null attribute values to exercise per-column carry
            rrows.append((k, t * 1_000_000, None if i % 5 == 0 else i))
    left = spark.createDataFrame(lrows, "k string, us long, lid long").select(
        "k", F.timestamp_micros("us").alias("ts"), "lid"
    )
    right = spark.createDataFrame(rrows, "k string, us long, val long").select(
        "k", F.timestamp_micros("us").alias("ts"), "val"
    )

    for direction in ("backward", "forward"):
        for tol in (None, 1800.0):
            base = asof_join(
                left, right, keys=["k"], ts="ts", right_cols=("val",),
                direction=direction, tolerance_s=tol,
            )
            salted = asof_join(
                left, right, keys=["k"], ts="ts", right_cols=("val",),
                direction=direction, tolerance_s=tol, salt_bucket_s=600.0,
            )
            b = {tuple(r) for r in base.collect()}
            s = {tuple(r) for r in salted.collect()}
            assert s == b, (direction, tol, len(s ^ b))


def test_sessionize_salted_equals_unsalted(spark):
    """salt_bucket_s sessionize == unsalted (same idx/start/end/count):
    sessions spanning many buckets, singleton sessions, sessions exactly
    at bucket edges."""
    import random

    from gmql_spark.operators.session import sessionize

    rng = random.Random(43)
    rows = []
    for k in ("x", "y", "hot"):
        n = 600 if k == "hot" else 60
        t = rng.randint(0, 120)
        for _ in range(n):
            # 70% short gaps (same session), 30% > timeout
            t += rng.randint(1, 120) if rng.random() < 0.7 else rng.randint(
                1900, 30000
            )
            rows.append((k, t * 1_000_000))
    df = spark.createDataFrame(rows, "conv_id string, us long").select(
        "conv_id", F.timestamp_micros("us").alias("ts")
    )
    base = sessionize(df, gap_timeout_s=1800.0)
    salted = sessionize(df, gap_timeout_s=1800.0, salt_bucket_s=600.0)
    b = {tuple(r) for r in base.collect()}
    s = {tuple(r) for r in salted.collect()}
    assert s == b, len(s ^ b)


def test_asof_salted_hot_key_5m(spark):
    """5x10^6-row single key through the salted path: parallelism =
    bucket count (the unsalted window would sort all rows in ONE
    partition). Grid-aligned rights give a closed-form expected match."""
    from gmql_spark.operators.join import asof_join

    n = 5_000_000
    left = spark.range(n).select(
        F.lit("hot").alias("k"),
        F.timestamp_micros((F.col("id") * 1_000_000 + 500_000).cast("long")).alias("ts"),
    )
    right = spark.range(n // 100).select(
        F.lit("hot").alias("k"),
        F.timestamp_micros((F.col("id") * 100_000_000).cast("long")).alias("ts"),
    )
    out = asof_join(
        left, right, keys=["k"], ts="ts", right_cols=(), salt_bucket_s=3600.0
    )
    # every left ts floors to the previous 100s grid point
    bad = out.filter(
        F.col("ts_right").isNull()
        | (
            F.unix_micros("ts_right")
            != (F.unix_micros("ts") / 100_000_000).cast("long") * 100_000_000
        )
    ).count()
    assert bad == 0
    assert out.count() == n


def test_compact_preserves_prior_crash_recovery_copies(spark, tmp_path):
    """A previous run's mid-swap crash leaves a partition ONLY in
    _compact_trash/_compact_tmp; a later compaction of other partitions
    must not delete those copies (they are the sole recovery source)."""
    import os
    import shutil

    from gmql_spark.retention import compact_partitions

    table = str(tmp_path / "tbl")
    df = spark.range(100).selectExpr(
        "id", "case when id % 2 = 0 then '2026-01-01' else '2026-01-02' end as window_date"
    )
    # fragment both partitions (several files each)
    df.repartition(4).write.partitionBy("window_date").parquet(table)

    # simulate run-1 crash on D1: leaf moved to trash (and a stage copy
    # left behind), table missing the partition
    d1, d2 = "window_date=2026-01-01", "window_date=2026-01-02"
    os.makedirs(f"{table}/_compact_trash", exist_ok=True)
    os.rename(f"{table}/{d1}", f"{table}/_compact_trash/{d1}")
    shutil.copytree(f"{table}/_compact_trash/{d1}", f"{table}/_compact_tmp/{d1}")

    # run 2 compacts the remaining partition
    rewritten = compact_partitions(spark, table, min_files=1)
    assert set(rewritten) == {"2026-01-02"}

    # the crash-recovery copies survived
    assert os.path.isdir(f"{table}/_compact_trash/{d1}")
    assert os.path.isdir(f"{table}/_compact_tmp/{d1}")
    # and recovery by rename restores the partition
    os.rename(f"{table}/_compact_trash/{d1}", f"{table}/{d1}")
    back = spark.read.parquet(table)
    assert back.count() == 100
    n_files = sum(
        1 for f in os.listdir(f"{table}/{d2}") if f.endswith(".parquet")
    )
    assert n_files == 1  # D2 actually compacted


# ------------------------- fact-table compaction under churn (round 6)


def _leaf_file_counts(fact: str) -> dict[str, int]:
    import os

    out = {}
    for b in os.listdir(fact):
        if not b.startswith("conv_bucket="):
            continue
        bpath = os.path.join(fact, b)
        dated = [d for d in os.listdir(bpath) if d.startswith("event_date=")]
        if dated:
            for d in dated:
                out[f"{b}/{d}"] = sum(
                    1
                    for f in os.listdir(os.path.join(bpath, d))
                    if f.endswith(".parquet")
                )
        else:
            out[b] = sum(
                1 for f in os.listdir(bpath) if f.endswith(".parquet")
            )
    return out


def test_compact_fact_table_churn(spark, tmp_path):
    """Append-heavy churn: many small append_transcripts batches accrete
    at least one file per touched (bucket, date) leaf each, so leaf file
    counts grow linearly with the number of appends; compact_fact_table
    bounds every fragmented leaf back to ONE file while keeping the
    table rows, the conv state, the refreshed tiers, and the ability to
    append afterwards all bit-identical."""
    import os

    from gmql_spark import datagen
    from gmql_spark.incremental import (
        append_transcripts,
        read_conv_state,
        refresh_tiers,
    )
    from gmql_spark.retention import compact_fact_table

    from pyspark.sql.window import Window

    raw = datagen.transcripts_spark(spark, n_conv=48)
    n_batches = 12
    fact = str(tmp_path / "fact")
    # slice each conversation into n_batches consecutive turn ranges
    # (datagen convs are compact sessions, so a conv's slices all land in
    # the SAME (bucket, date) leaf — per-leaf churn — and every batch is
    # strictly later per conv, honoring the ordered-append contract)
    w = Window.partitionBy("conv_id")
    us = F.unix_micros("ts")
    lo, hi = F.min(us).over(w), F.max(us).over(w)
    # slice on the ts RANGE (not turn_idx): datagen has equal-ts adjacent
    # turns, and the append contract is strict — ties must co-locate
    batched = raw.withColumn(
        "_b",
        F.least(
            F.floor((us - lo) * n_batches / (hi - lo + 1)),
            F.lit(n_batches - 1),
        ).cast("int"),
    )
    all_dates: set = set()
    for i in range(n_batches):
        b = batched.filter(F.col("_b") == i).drop("_b")
        if b.isEmpty():
            continue
        all_dates.update(append_transcripts(spark, b, fact, n_buckets=4))

    before = _leaf_file_counts(fact)
    # churn really fragmented: the busiest leaf carries many batch files
    assert max(before.values()) >= n_batches // 2, before

    key = ["conv_id", "turn_idx"]
    rows_before = (
        spark.read.parquet(fact).toPandas().sort_values(key).reset_index(drop=True)
    )
    state_before = (
        read_conv_state(spark, fact)
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    out1 = str(tmp_path / "tiers_pre")
    refresh_tiers(spark, fact, out1, dates=sorted(all_dates))

    done = compact_fact_table(spark, fact, min_files=1)
    assert done, "nothing compacted"
    after = _leaf_file_counts(fact)
    assert set(after) == set(before)
    # every leaf that was fragmented is now exactly one file; none grew
    assert all(n == 1 for leaf, n in after.items() if before[leaf] > 1), after
    assert all(n <= before[leaf] for leaf, n in after.items())

    rows_after = (
        spark.read.parquet(fact).toPandas().sort_values(key).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        rows_before[sorted(rows_before.columns)], rows_after[sorted(rows_after.columns)]
    )
    # conv state untouched by compaction
    state_after = (
        read_conv_state(spark, fact)
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(state_before, state_after)

    # tiers recomputed from the compacted table == pre-compaction tiers
    out2 = str(tmp_path / "tiers_post")
    refresh_tiers(spark, fact, out2, dates=sorted(all_dates))
    for tier in ("1m", "1h", "1d"):
        a = (
            spark.read.parquet(f"{out1}/rollup_{tier}")
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        b = (
            spark.read.parquet(f"{out2}/rollup_{tier}")
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])

    # the append protocol still works on a compacted table (state +
    # ordered-append contract intact): shift a copy of one conversation
    # forward in time as a fresh later batch
    one = raw.filter(
        F.col("conv_id") == raw.select("conv_id").first()[0]
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 400 DAYS"))
    new_dates = append_transcripts(spark, one, fact, n_buckets=4)
    assert new_dates
    total = spark.read.parquet(fact).count()
    assert total == len(rows_before) + one.count()


def test_compact_fact_table_crash_copies_preserved(spark, tmp_path):
    """A leaf left mid-swap by a crashed compaction (present only under
    _compact_trash/, with a stale _compact_tmp/ copy) is NOT destroyed
    by a later compact_fact_table run over the other leaves, and rename
    recovery restores it."""
    import os
    import shutil

    from gmql_spark import datagen
    from gmql_spark.incremental import append_transcripts
    from gmql_spark.retention import compact_fact_table

    raw = datagen.transcripts_spark(spark, n_conv=16)
    fact = str(tmp_path / "fact")
    batched = raw.withColumn(
        "_b", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
    )
    for i in range(4):
        append_transcripts(
            spark, batched.filter(F.col("_b") == i).drop("_b"), fact, n_buckets=2
        )
    n_rows = spark.read.parquet(fact).count()

    # simulate a crash between the two renames inside one bucket dir
    bucket = sorted(
        e for e in os.listdir(fact) if e.startswith("conv_bucket=")
    )[0]
    bpath = os.path.join(fact, bucket)
    leaf = sorted(e for e in os.listdir(bpath) if e.startswith("event_date="))[0]
    os.makedirs(f"{bpath}/_compact_trash", exist_ok=True)
    os.rename(f"{bpath}/{leaf}", f"{bpath}/_compact_trash/{leaf}")
    shutil.copytree(f"{bpath}/_compact_trash/{leaf}", f"{bpath}/_compact_tmp/{leaf}")
    lost = spark.read.parquet(f"{bpath}/_compact_trash/{leaf}").count()
    assert lost > 0

    compact_fact_table(spark, fact, min_files=1)
    # crash copies survived the sweep
    assert os.path.isdir(f"{bpath}/_compact_trash/{leaf}")
    assert os.path.isdir(f"{bpath}/_compact_tmp/{leaf}")
    # recovery restores the full table
    os.rename(f"{bpath}/_compact_trash/{leaf}", f"{bpath}/{leaf}")
    assert spark.read.parquet(fact).count() == n_rows


def test_compact_fact_table_dateless_layout(spark, tmp_path):
    """Tables written with partition_days=False (bucket dirs are the
    leaves) compact at the bucket level with the same staged-swap
    contract."""
    import os

    from gmql_spark import datagen
    from gmql_spark.sources.catalog import write_transcripts
    from gmql_spark.retention import compact_fact_table

    raw = datagen.transcripts_spark(spark, n_conv=24)
    fact = str(tmp_path / "fact")
    write_transcripts(raw, fact, n_buckets=2, partition_days=False)
    for _ in range(3):  # churn: three more append waves
        write_transcripts(
            raw.limit(50), fact, n_buckets=2, partition_days=False, mode="append"
        )
    before = _leaf_file_counts(fact)
    assert all(k.startswith("conv_bucket=") and "/" not in k for k in before)
    assert max(before.values()) >= 4
    key = ["conv_id", "turn_idx", "ts"]
    rows_before = (
        spark.read.parquet(fact).toPandas().sort_values(key).reset_index(drop=True)
    )
    done = compact_fact_table(spark, fact, min_files=1)
    assert done
    after = _leaf_file_counts(fact)
    assert all(n == 1 for leaf, n in after.items() if before[leaf] > 1), after
    rows_after = (
        spark.read.parquet(fact).toPandas().sort_values(key).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        rows_before[sorted(rows_before.columns)],
        rows_after[sorted(rows_after.columns)],
    )


def test_compact_tier_tables_end_to_end(spark, tmp_path):
    """Tier tables built by refresh_tiers fragment (each refresh writes
    up to shuffle.partitions files per window_date); compact_tier_tables
    bounds every leaf to one file, serving frames stay bit-identical,
    and a later partial refresh works on the compacted layout."""
    import os

    from gmql_spark import datagen
    from gmql_spark.incremental import append_transcripts, refresh_tiers
    from gmql_spark.retention import compact_tier_tables

    raw = datagen.transcripts_spark(spark, n_conv=25)
    fact = str(tmp_path / "fact")
    tiers_dir = str(tmp_path / "tiers")
    dates = append_transcripts(spark, raw, fact, n_buckets=4)
    refresh_tiers(spark, fact, tiers_dir, dates=sorted(dates))

    # at this scale AQE coalesces each refresh write to one file per
    # date; fragment the leaves explicitly (same rows, 4 files) — the
    # organic many-files-per-refresh case is covered at scale by the
    # churn row in tools/bench_sf1.py
    import shutil

    for t in ("1m", "1h", "1d"):
        root = os.path.join(tiers_dir, f"rollup_{t}")
        for d in list(os.listdir(root)):
            if not d.startswith("window_date="):
                continue
            leaf = os.path.join(root, d)
            tmp = str(tmp_path / "frag_tmp")
            spark.read.parquet(leaf).repartition(4).write.mode(
                "overwrite"
            ).parquet(tmp)
            shutil.rmtree(leaf)
            shutil.move(tmp, leaf)

    def leaf_files():
        out = {}
        for t in ("1m", "1h", "1d"):
            root = os.path.join(tiers_dir, f"rollup_{t}")
            for d in os.listdir(root):
                if d.startswith("window_date="):
                    out[f"{t}/{d}"] = sum(
                        1
                        for f in os.listdir(os.path.join(root, d))
                        if f.endswith(".parquet")
                    )
        return out

    def serving(t):
        df = spark.read.parquet(os.path.join(tiers_dir, f"rollup_{t}"))
        cols = sorted(df.columns)
        return (
            df.select(*cols)
            .toPandas()
            .sort_values(["conv_id", "window_start"])
            .reset_index(drop=True)
        )

    before = leaf_files()
    assert any(v > 1 for v in before.values()), "fixture never fragmented"
    pre = {t: serving(t) for t in ("1m", "1h", "1d")}

    done = compact_tier_tables(spark, tiers_dir, min_files=1)
    assert set(done) == {f"rollup_{k.split('/')[0]}/{k.split('/')[1]}"
                         for k, v in before.items() if v > 1}
    after = leaf_files()
    assert all(after[k] == 1 for k, v in before.items() if v > 1)
    for t in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(serving(t), pre[t])

    # partial refresh on the compacted layout: signatures unchanged
    refresh_tiers(spark, fact, tiers_dir, dates=sorted(dates)[:1])
    for t in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(serving(t), pre[t])


def test_compaction_reads_leaves_with_footer_schema(spark, tmp_path, monkeypatch):
    """The compacted leaves are opened with the schema of one footer:
    one Spark job fewer than opening them with schema inference (the
    path a table without a Spark-written footer takes), with the same
    rows and the same file schema either way."""
    import glob
    import os
    import shutil

    from gmql_spark import datagen, retention
    from gmql_spark.incremental import append_transcripts
    from gmql_spark.sources import catalog
    from gmql_spark.sources.catalog import footer_schema
    from tests.conftest import spark_jobs

    from pyspark.sql.window import Window

    raw = datagen.transcripts_spark(spark, n_conv=24)
    fact = str(tmp_path / "fact")
    # cut each conversation at the middle of its time range (tied
    # timestamps land on one side), so its leaf gets a file per append
    us, w = F.unix_micros("ts"), Window.partitionBy("conv_id")
    cut = raw.withColumn("_early", us < (F.min(us).over(w) + F.max(us).over(w)) / 2)
    for early in (True, False):
        batch = cut.filter(F.col("_early") == early).drop("_early")
        append_transcripts(spark, batch, fact, n_buckets=2)
    inferred = str(tmp_path / "inferred")
    shutil.copytree(fact, inferred)

    def rows(path):
        pdf = spark.read.parquet(path).toPandas()
        return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    before = rows(fact)
    jobs, done = {}, {}
    jobs["footer"] = spark_jobs(
        spark,
        lambda: done.update(footer=retention.compact_fact_table(spark, fact, min_files=1)),
    )
    monkeypatch.setattr(catalog, "footer_schema", lambda path: None)
    jobs["inferred"] = spark_jobs(
        spark,
        lambda: done.update(
            inferred=retention.compact_fact_table(spark, inferred, min_files=1)
        ),
    )
    monkeypatch.undo()
    assert done["footer"] == done["inferred"] and done["footer"], done
    assert jobs["inferred"] - jobs["footer"] == 1, jobs
    pd.testing.assert_frame_equal(rows(fact), before)
    pd.testing.assert_frame_equal(rows(inferred), before)
    for leaf in done["footer"]:
        (a,) = glob.glob(f"{fact}/{leaf}/*.parquet")
        (b,) = glob.glob(f"{inferred}/{leaf}/*.parquet")
        assert footer_schema(os.path.dirname(a)) == footer_schema(os.path.dirname(b))


def test_compaction_is_one_staged_write(spark, tmp_path):
    """Compaction rewrites every fragmented leaf of a table in one staged
    write: at most 2 Spark jobs for 20+ fragmented leaves and none when
    no leaf is fragmented. Each rewritten leaf keeps its rows (as a
    multiset) in one file, in the same row order on every run; leaves
    below the threshold keep their files byte for byte."""
    import glob
    import hashlib
    import os
    import shutil
    from pathlib import Path

    import pyarrow.parquet as pq

    from gmql_spark import datagen, retention
    from gmql_spark.incremental import append_transcripts
    from gmql_spark.sources import catalog
    from tests.conftest import spark_jobs

    from pyspark.sql.window import Window

    raw = datagen.transcripts_spark(spark, n_conv=40)
    fact = str(tmp_path / "fact")
    # each conversation's two halves go in two appends: a file per half
    us, w = F.unix_micros("ts"), Window.partitionBy("conv_id")
    cut = raw.withColumn("_early", us < (F.min(us).over(w) + F.max(us).over(w)) / 2)
    for early in (True, False):
        batch = cut.filter(F.col("_early") == early).drop("_early")
        append_transcripts(spark, batch, fact, n_buckets=2)
    # one conversation moved 400 days on lands in leaves of one file
    one = raw.filter(F.col("conv_id") == raw.select("conv_id").first()[0])
    append_transcripts(
        spark, one.withColumn("ts", F.col("ts") + F.expr("INTERVAL 400 DAYS")), fact,
        n_buckets=2,
    )
    copy = str(tmp_path / "copy")
    shutil.copytree(fact, copy)

    def files(leaf):
        return sorted(glob.glob(f"{leaf}/*.parquet"))

    def rows(leaf):
        pdf = pq.read_table(files(leaf)).to_pandas()
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    def digest(leaf):
        return {os.path.basename(f): hashlib.md5(Path(f).read_bytes()).hexdigest()
                for f in files(leaf)}

    leaves = {os.path.relpath(lf, fact): lf for lf in catalog.leaves(fact)}
    frag = {rel for rel, lf in leaves.items() if len(files(lf)) > 1}
    assert len(frag) >= 20 and len(leaves) > len(frag), leaves
    before = {rel: rows(lf) for rel, lf in leaves.items()}
    kept = {rel: digest(lf) for rel, lf in leaves.items() if rel not in frag}

    done = {}
    assert spark_jobs(
        spark, lambda: done.update(retention.compact_fact_table(spark, fact, min_files=1))
    ) <= 2
    assert set(done) == frag and set(done.values()) == {2}, done
    assert sorted(catalog.leaves(fact)) == sorted(leaves.values())
    for rel, lf in leaves.items():
        pd.testing.assert_frame_equal(rows(lf), before[rel])
        if rel in frag:
            assert len(files(lf)) == 1, rel
        else:
            assert digest(lf) == kept[rel], rel
    assert spark_jobs(
        spark, lambda: done.update(again=retention.compact_fact_table(spark, fact, min_files=1))
    ) == 0
    assert done["again"] == {}

    # a second compaction of a copy writes each leaf's rows in the same order
    assert retention.compact_fact_table(spark, copy, min_files=1).keys() == frag
    for rel in frag:
        (a,), (b,) = files(leaves[rel]), files(f"{copy}/{rel}")
        assert pq.read_table(a).equals(pq.read_table(b)), rel
