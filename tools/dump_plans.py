"""Dump .explain('formatted') for selected declared queries into
<out_dir>/<name>_<tag>.txt (the before/after plan artifacts, kept under
``plans/<round>/``). Also dumps surfaces that are not declared
queries, under pseudo-names: the transcript 1m tier rollup plan
(``transcript_rollup_1m``), a GSL ``ROLLUP 1m → CASCADE 1h → CASCADE
1d`` chain with sketches, unpersisted as a script plans it
(``gsl_cascade_chain``), the tier plan of one
``checkpoint.run_pipeline`` bucket as the pipeline forms it
(``pipeline_bucket_tiers``: bucket 0 of a table written with ingest-time
gaps, every tier of the bucket in one frame) and the plan of the one
staged write of ``incremental.refresh_tiers``, without sketches
(``refresh_tiers``: every tier of every date of that table in one frame)
and with ``with_sketches=True`` (``refresh_tiers_sketches``).

Usage: python tools/dump_plans.py <out_dir> <tag> [sf_dir] [query ...]
  out_dir: e.g. plans/r09 (created if missing; a relative path is taken
           from the repository root)
  tag:     e.g. "before" / "after" (suffix of the artifact files)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    "gapfill",
    "latency_percentiles",
    "cosine_topk",
    "ann_topk",
    "ivf_trained",
    "percentile_digest_ok",
    "range_stitch",
    "cover_accumulation",
    "cover_jaccard",
    "stream_rollup",
    "rollup_1h_cascade",
    "latency_histogram",
]


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = os.path.join(REPO, sys.argv.pop(1))
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    names = sys.argv[3:] or DEFAULT_QUERIES

    import __spark_entry__ as entrymod
    from gmql_spark.session import get_spark

    spark = get_spark(8, app_name=f"dump-plans-{tag}", shuffle_partitions=16)
    os.makedirs(out_dir, exist_ok=True)

    def dump(name, df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt ({plan.count('Exchange')} Exchange)",
              file=sys.stderr)

    qs = entrymod.queries()
    for name in names:
        dump(name, qs[name](spark, sf_dir))

    # bench-only surface: the 1m transcript tier
    from gmql_spark.datagen import ROLES, TOOL_NAMES, transcripts_spark
    from gmql_spark.operators.rollup import cascade_rollup, rollup, with_gap_seconds

    raw = transcripts_spark(spark, n_conv=50)
    raw_g = with_gap_seconds(raw).select(
        "conv_id", "ts", "role", "tool", "gap_us", "gap_s"
    )
    dump(
        "transcript_rollup_1m",
        rollup(raw_g, "1m", role_values=list(ROLES), tool_values=list(TOOL_NAMES)),
    )

    # GSL surface: ROLLUP 1m -> CASCADE 1h -> CASCADE 1d with sketches
    dump(
        "gsl_cascade_chain",
        cascade_rollup(
            cascade_rollup(rollup(raw, "1m", with_sketches=True), "1h"), "1d"
        ),
    )

    # bench-only surface: one run_pipeline bucket's tier plan
    import tempfile

    from pyspark.sql import functions as F

    from gmql_spark.operators.rollup import DEFAULT_ROLES, _build_tiers
    from gmql_spark.sources.catalog import read_fact_leaves, write_transcripts

    with tempfile.TemporaryDirectory() as tmp:
        write_transcripts(raw, tmp, n_buckets=4, precompute_gaps=True)
        part = read_fact_leaves(spark, tmp, bucket=0)
        dump("pipeline_bucket_tiers", _build_tiers(
            with_gap_seconds(part), None, ("1m", "1h", "1d"), key="conv_id",
            ts="ts", role_values=DEFAULT_ROLES, tool_values=None,
            with_sketches=False,
        ))

        # bench-only surfaces: the refresh's staged write, as
        # refresh_tiers forms it, over every event date of the table
        dates = sorted(
            e.split("=", 1)[1]
            for e in os.listdir(os.path.join(tmp, "conv_bucket=0"))
            if e.startswith("event_date=")
        )
        fact = read_fact_leaves(spark, tmp, dates=dates)
        for name, with_sketches in (
            ("refresh_tiers", False), ("refresh_tiers_sketches", True),
        ):
            dump(name, _build_tiers(
                with_gap_seconds(fact), None, ("1m", "1h", "1d"), key="conv_id",
                ts="ts", role_values=DEFAULT_ROLES, tool_values=None,
                with_sketches=with_sketches,
            ).withColumn("window_date", F.to_date("window_start")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
