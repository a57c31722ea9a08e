"""Kill/resume equivalence (BASELINE.md resumability gate) + storage
layout pruning."""

from __future__ import annotations

import json

import pytest

from gmql_spark import datagen
from gmql_spark.checkpoint import run_pipeline
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
