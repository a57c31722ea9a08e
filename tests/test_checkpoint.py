"""Kill/resume equivalence (BASELINE.md resumability gate) + storage
layout pruning."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gmql_spark import datagen
from gmql_spark.checkpoint import Manifest, run_pipeline
from gmql_spark.operators.rollup import rollup
from gmql_spark.sources.catalog import read_transcripts, write_transcripts


def _read_all(spark, out_dir, tier):
    df = spark.read.parquet(f"{out_dir}/rollup_{tier}")
    return (
        df.drop("bucket")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )


def test_kill_resume_equivalence(spark, tmp_path):
    raw = datagen.transcripts_spark(spark, n_conv=60)
    a, b = str(tmp_path / "oneshot"), str(tmp_path / "resumed")

    run_pipeline(spark, raw, a, tiers=("1m", "1h"), n_buckets=4)

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, raw, b, tiers=("1m", "1h"), n_buckets=4, fail_after=2)
    stats = run_pipeline(spark, raw, b, tiers=("1m", "1h"), n_buckets=4)
    assert stats == {"ran": 2, "skipped": 2, "buckets": 4}

    import pandas as pd

    for tier in ("1m", "1h"):
        pd.testing.assert_frame_equal(
            _read_all(spark, a, tier), _read_all(spark, b, tier), check_dtype=False
        )

    # manifest carries metrics + lineage fields
    entries = [
        json.loads(line) for line in open(f"{b}/_manifest.jsonl") if line.strip()
    ]
    assert len(entries) == 4 and all(
        e["rows_in"] > 0 and e["watermark"] and "1m" in e["tiers"] for e in entries
    )


def test_pipeline_from_path_prunes_and_matches_dataframe_run(spark, tmp_path):
    """run_pipeline(raw_path=...) must (a) produce the same tiers as the
    DataFrame path, (b) partition-prune each bucket job, (c) refuse to
    resume with a different n_buckets, (d) refuse a bucket count smaller
    than the table layout."""
    raw = datagen.transcripts_spark(spark, n_conv=60)
    fact = str(tmp_path / "fact")
    write_transcripts(raw, fact, n_buckets=4)

    a, b = str(tmp_path / "via_df"), str(tmp_path / "via_path")
    run_pipeline(spark, raw, a, tiers=("1m",), n_buckets=4)
    run_pipeline(spark, None, b, tiers=("1m",), n_buckets=4, raw_path=fact)

    import pandas as pd

    pd.testing.assert_frame_equal(
        _read_all(spark, a, "1m"), _read_all(spark, b, "1m"), check_dtype=False
    )

    # (b) the per-bucket read partition-prunes (the claim in the module
    # docstring — previously false on the DataFrame path)
    pruned = read_transcripts(spark, fact, buckets=[2])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "conv_bucket" in plan

    # (c) n_buckets mismatch on resume is refused, not silently mixed
    with pytest.raises(ValueError, match="n_buckets"):
        run_pipeline(spark, None, b, tiers=("1m",), n_buckets=8, raw_path=fact)
    # (d) bucket count below the table layout is refused
    with pytest.raises(ValueError, match="conv_bucket up to"):
        run_pipeline(spark, None, str(tmp_path / "fresh"), tiers=("1m",),
                     n_buckets=2, raw_path=fact)


def test_bucketed_layout_prunes_and_roundtrips(spark, tmp_path):
    raw = datagen.transcripts_spark(spark, n_conv=50)
    path = str(tmp_path / "fact")
    write_transcripts(raw, path, n_buckets=4)

    back = read_transcripts(spark, path)
    assert back.count() == raw.count()
    # pruned read plans a PartitionFilters scan, not a full-scan + filter
    pruned = read_transcripts(spark, path, buckets=[1])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "conv_bucket" in plan
    assert 0 < pruned.count() < back.count()

    # rollup over the bucketed table still matches the direct rollup
    import pandas as pd

    r1 = (
        rollup(back, "1h")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    r2 = (
        rollup(raw, "1h")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(r1, r2[r1.columns], check_dtype=False)


def test_pipeline_tiers_match_oracle_over_precomputed_gaps(spark, tmp_path):
    """run_pipeline(raw_path=...) over a table written with ingest-time
    gaps: every tier (1m/1h/1d) equals the pandas oracle bit for bit."""
    from gmql_spark.operators.rollup import PCT_NAMES
    from gmql_spark.oracle.rollup import oracle_rollup
    from tests.conftest import assert_pdf_equal

    pdf = datagen.gen_transcripts(n_conv=80)
    fact = str(tmp_path / "fact")
    write_transcripts(
        datagen.transcripts_spark(spark, n_conv=80), fact, n_buckets=4,
        precompute_gaps=True,
    )
    out = str(tmp_path / "tiers")
    stats = run_pipeline(spark, None, out, n_buckets=4, raw_path=fact)
    assert stats == {"ran": 4, "skipped": 0, "buckets": 4}
    for tier in ("1m", "1h", "1d"):
        assert_pdf_equal(
            _read_all(spark, out, tier), oracle_rollup(pdf, tier),
            ["conv_id", "window_start"], float_cols=(*PCT_NAMES, "latency_sum_us"),
        )


def _bucket_files(out_dir, table, tier, b):
    d = f"{out_dir}/{table}_{tier}/bucket={b}"
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


def test_empty_bucket_writes_schema_only_tiers(spark, tmp_path):
    """A bucket with no rows still gets a schema-only parquet in every
    rollup_<t> and gorilla_<t> directory, and a manifest entry with
    rows_in 0, rows_out 0 and a null watermark."""
    import pyarrow.parquet as pq

    raw = datagen.transcripts_spark(spark, n_conv=1)
    out = str(tmp_path / "tiers")
    run_pipeline(spark, raw, out, tiers=("1m", "1h"), n_buckets=4, compress=True)
    entries = Manifest(f"{out}/_manifest.jsonl").entries()
    assert len(entries) == 4
    full = [e["bucket"] for e in entries if e["rows_in"] > 0]
    empty = [e for e in entries if e["rows_in"] == 0]
    assert len(full) == 1 and len(empty) == 3
    for e in empty:
        assert e["watermark"] is None
        assert all(s["rows_out"] == 0 for s in e["tiers"].values()), e
        for table in ("rollup", "gorilla"):
            for tier in ("1m", "1h"):
                files = _bucket_files(out, table, tier, e["bucket"])
                assert files, (table, tier, e["bucket"])
                ref = pq.read_schema(_bucket_files(out, table, tier, full[0])[0])
                for f in files:
                    assert pq.ParquetFile(f).metadata.num_rows == 0
                    assert pq.read_schema(f).equals(ref), (table, tier)
    assert spark.read.parquet(f"{out}/rollup_1h").count() == entries[full[0]][
        "tiers"
    ]["1h"]["rows_out"]


def test_null_ts_row_counts_in_rows_in(spark, tmp_path):
    """rows_in counts every raw row of the bucket, a null-ts row too,
    although no tier window holds it."""
    raw = datagen.transcripts_spark(spark, n_conv=5)
    nulls = raw.limit(1).withColumn("ts", F.lit(None).cast("timestamp"))
    out = str(tmp_path / "tiers")
    run_pipeline(spark, raw.unionByName(nulls), out, tiers=("1m",), n_buckets=1)
    (entry,) = Manifest(f"{out}/_manifest.jsonl").entries()
    n = raw.count()
    assert entry["rows_in"] == n + 1
    assert entry["watermark"] == str(raw.agg(F.max("ts")).collect()[0][0])
    turns = spark.read.parquet(f"{out}/rollup_1m").agg(F.sum("turn_count"))
    assert turns.collect()[0][0] == n


def test_resume_after_crash_between_staging_and_renames(spark, tmp_path, monkeypatch):
    """A crash after the bucket's staging write, part-way through its
    renames, leaves no manifest line; the resumed run clears the stale
    staging directory, redoes the bucket and matches a one-shot run."""
    raw = datagen.transcripts_spark(spark, n_conv=40)
    a, b = str(tmp_path / "oneshot"), str(tmp_path / "crashed")
    kw = dict(tiers=("1m", "1h"), n_buckets=2, compress=True)
    run_pipeline(spark, raw, a, **kw)

    renamed = []
    real_rename = os.rename

    def crash_on_second_rename(src, dst):
        renamed.append(dst)
        if len(renamed) == 2:
            raise OSError("injected crash mid-rename")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_second_rename)
    with pytest.raises(OSError, match="injected crash"):
        run_pipeline(spark, raw, b, **kw)
    monkeypatch.undo()
    assert os.path.isdir(f"{b}/_staging")
    assert os.path.isdir(renamed[0])  # one tier of bucket 0 was already moved
    assert Manifest(f"{b}/_manifest.jsonl").entries() == []

    assert run_pipeline(spark, raw, b, **kw) == {"ran": 2, "skipped": 0, "buckets": 2}
    assert not os.path.exists(f"{b}/_staging")
    assert [e["bucket"] for e in Manifest(f"{b}/_manifest.jsonl").entries()] == [0, 1]
    import pandas as pd

    for tier in ("1m", "1h"):
        pd.testing.assert_frame_equal(
            _read_all(spark, a, tier), _read_all(spark, b, tier), check_dtype=False
        )
        g = [
            spark.read.parquet(f"{d}/gorilla_{tier}").toPandas()
            .sort_values(["bucket", "conv_id"]).reset_index(drop=True)
            for d in (a, b)
        ]
        pd.testing.assert_frame_equal(*g)


def test_pipeline_reads_bucket_leaves_with_footer_schema(spark, tmp_path, monkeypatch):
    """The bucketed table is never opened whole: each bucket reads only
    its own ``conv_bucket=<b>`` leaves, and opening them runs no Spark
    job (the schema comes from a parquet footer, not inference)."""
    from pyspark.sql.readwriter import DataFrameReader

    from gmql_spark.sources.catalog import read_fact_leaves
    from tests.conftest import spark_jobs

    fact = str(tmp_path / "fact")
    write_transcripts(datagen.transcripts_spark(spark, n_conv=40), fact, n_buckets=4)
    assert spark_jobs(spark, lambda: read_fact_leaves(spark, fact, bucket=1)) == 0
    reads = []
    real_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **kw):
        reads.append(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    out = str(tmp_path / "tiers")
    assert run_pipeline(spark, None, out, tiers=("1m",), n_buckets=4, raw_path=fact)[
        "ran"
    ] == 4
    paths = [p for call in reads for p in call]
    assert paths and all("/conv_bucket=" in p for p in paths), reads
    # one read per bucket, of that bucket's leaves alone
    per_read = [{p.split("/conv_bucket=")[1].split("/")[0] for p in call} for call in reads]
    assert sorted(b for bs in per_read for b in bs) == ["0", "1", "2", "3"], reads
    assert all(len(bs) == 1 for bs in per_read), reads


def test_pipeline_bucket_job_budget(spark, tmp_path):
    """One bucket of the pipeline (compress=True, a table with ingest-time
    gaps) runs at most 4 Spark jobs: the bucket's leaves are read with
    the footer schema (no schema inference), all tiers in one write of
    a one-exchange plan, Gorilla in one more, rows_in and watermark
    observed on the write rather than collected."""
    from tests.conftest import spark_jobs

    fact = str(tmp_path / "fact")
    write_transcripts(
        datagen.transcripts_spark(spark, n_conv=60), fact, n_buckets=2,
        precompute_gaps=True,
    )
    out = str(tmp_path / "tiers")
    kw = dict(n_buckets=2, raw_path=fact, compress=True)

    def first_bucket():
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, None, out, fail_after=1, **kw)

    def second_bucket():
        assert run_pipeline(spark, None, out, **kw) == {
            "ran": 1, "skipped": 1, "buckets": 2,
        }

    for run in (first_bucket, second_bucket):
        assert spark_jobs(spark, run) <= 4


def test_second_pipeline_run_compiles_nothing(spark, tmp_path):
    """A second ``run_pipeline`` of the same one-bucket table into a
    fresh ``out_dir`` finds every generated class of its plans in the
    codegen cache: it compiles none."""
    from tests.conftest import codegen_compiles

    fact = str(tmp_path / "fact")
    write_transcripts(
        datagen.transcripts_spark(spark, n_conv=30), fact, n_buckets=1,
        precompute_gaps=True,
    )
    kw = dict(n_buckets=1, raw_path=fact, compress=True)
    run_pipeline(spark, None, str(tmp_path / "first"), **kw)
    assert codegen_compiles(
        spark, lambda: run_pipeline(spark, None, str(tmp_path / "second"), **kw)
    ) == 0
