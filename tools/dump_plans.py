"""Dump .explain('formatted') for selected declared queries into
<out_dir>/<name>_<tag>.txt (the before/after plan artifacts, kept under
``plans/<round>/``). Also dumps surfaces that are not declared
queries, under pseudo-names: the transcript 1m tier rollup plan
(``transcript_rollup_1m``), a GSL ``ROLLUP 1m → CASCADE 1h → CASCADE
1d`` chain with sketches, unpersisted as a script plans it
(``gsl_cascade_chain``), the tier plan of one
``checkpoint.run_pipeline`` bucket as the pipeline forms it
(``pipeline_bucket_tiers``: bucket 0 of a table written with ingest-time
gaps, every tier of the bucket in one frame), the plan of the one
staged write of ``incremental.refresh_tiers``, without sketches
(``refresh_tiers``: every tier of every date of that table in one frame),
with ``with_sketches=True`` (``refresh_tiers_sketches``) and with
``with_sketches="digest"`` (``refresh_tiers_digest``), and the
plan of the write that lands an ``incremental.append_transcripts`` batch
(``append_transcripts``: the second half of each conversation appended
onto a table holding the first half), captured from a real append, and
the plan ``realtime.stitch_transcripts`` builds over materialized tiers
(``stitch_transcripts``: the first halves appended and refreshed, the
second halves appended on top, a range from the second hour of the data
to its last minutes) and the ``realtime.realtime_rollup(tier="1h")``
query over the same stale tiers (``realtime_rollup_1h``).

Usage: python tools/dump_plans.py <out_dir> <tag> [sf_dir] [name ...]
  out_dir: e.g. plans/r09 (created if missing; a relative path is taken
           from the repository root)
  tag:     e.g. "before" / "after" (suffix of the artifact files)
  name:    a declared query or a pseudo-name; only the named ones are
           dumped, and the declared queries run only when one is named
           (without names: the twelve queries below and every
           pseudo-name)
"""

from __future__ import annotations

import os
import sys
import tempfile

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


def _transcripts(spark):
    from gmql_spark.datagen import transcripts_spark

    return transcripts_spark(spark, n_conv=50)


def transcript_rollup_1m(spark, tmp):
    """bench-only surface: the 1m transcript tier"""
    from gmql_spark.datagen import ROLES, TOOL_NAMES
    from gmql_spark.operators.rollup import rollup, with_gap_seconds

    raw_g = with_gap_seconds(_transcripts(spark)).select(
        "conv_id", "ts", "role", "tool", "gap_us", "gap_s"
    )
    return rollup(raw_g, "1m", role_values=list(ROLES), tool_values=list(TOOL_NAMES))


def gsl_cascade_chain(spark, tmp):
    """GSL surface: ROLLUP 1m -> CASCADE 1h -> CASCADE 1d with sketches"""
    from gmql_spark.operators.rollup import cascade_rollup, rollup

    return cascade_rollup(
        cascade_rollup(rollup(_transcripts(spark), "1m", with_sketches=True), "1h"), "1d"
    )


def _gapped_fact(spark, tmp):
    from gmql_spark.sources.catalog import write_transcripts

    fact = os.path.join(tmp, "gapped_fact")
    if not os.path.isdir(fact):
        write_transcripts(_transcripts(spark), fact, n_buckets=4, precompute_gaps=True)
    return fact


def _tiers(frame, with_sketches):
    from gmql_spark.operators.rollup import DEFAULT_ROLES, _build_tiers, with_gap_seconds

    return _build_tiers(
        with_gap_seconds(frame), None, ("1m", "1h", "1d"), key="conv_id", ts="ts",
        role_values=DEFAULT_ROLES, tool_values=None, with_sketches=with_sketches,
    )


def pipeline_bucket_tiers(spark, tmp):
    """bench-only surface: one run_pipeline bucket's tier plan"""
    from gmql_spark.sources.catalog import read_fact_leaves

    return _tiers(read_fact_leaves(spark, _gapped_fact(spark, tmp), bucket=0), False)


def _refresh(with_sketches):
    def dump_refresh(spark, tmp):
        """bench-only surface: the refresh's staged write, as
        refresh_tiers forms it, over every event date of the table"""
        from pyspark.sql import functions as F

        from gmql_spark.sources.catalog import read_fact_leaves

        fact = _gapped_fact(spark, tmp)
        dates = sorted(
            e.split("=", 1)[1]
            for e in os.listdir(os.path.join(fact, "conv_bucket=0"))
            if e.startswith("event_date=")
        )
        return _tiers(read_fact_leaves(spark, fact, dates=dates), with_sketches).withColumn(
            "window_date", F.to_date("window_start")
        )

    return dump_refresh


def _halves(spark):
    """each conversation's first and second half of turns"""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    half = _transcripts(spark).withColumn(
        "_n", F.max("turn_idx").over(Window.partitionBy("conv_id"))
    )
    first = F.col("turn_idx") <= F.col("_n") / 2
    return half.filter(first).drop("_n"), half.filter(~first).drop("_n")


def append_transcripts(spark, tmp):
    """the write that lands an append's batch in the fact table (or in
    its staging directory), captured from a real append"""
    from pyspark.sql.readwriter import DataFrameWriter

    from gmql_spark import incremental

    first, second = _halves(spark)
    fact = os.path.join(tmp, "append_fact")
    incremental.append_transcripts(spark, first, fact, n_buckets=4)
    written = []
    real_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kw):
        if not path.startswith(f"{fact}/_conv_state"):  # fact rows, not state
            written.append(self._df)
        return real_parquet(self, path, *args, **kw)

    DataFrameWriter.parquet = recording_parquet
    try:
        incremental.append_transcripts(spark, second, fact, n_buckets=4)
    finally:
        DataFrameWriter.parquet = real_parquet
    (df,) = written
    return df


def _stale_tiers(spark, tmp, name):
    """(fact, tiers dir): the first halves appended and refreshed, the
    second halves appended on top"""
    from gmql_spark import incremental

    first, second = _halves(spark)
    fact, out = os.path.join(tmp, f"{name}_fact"), os.path.join(tmp, f"{name}_tiers")
    dates = incremental.append_transcripts(spark, first, fact, n_buckets=4)
    incremental.refresh_tiers(spark, fact, out, dates=dates)
    incremental.append_transcripts(spark, second, fact, n_buckets=4)
    return fact, out


def stitch_transcripts(spark, tmp):
    """the stitch over materialized tiers, one append past the refresh"""
    import datetime as dt

    from pyspark.sql import functions as F

    from gmql_spark import realtime

    fact, out = _stale_tiers(spark, tmp, "stitch")
    lo, hi = _transcripts(spark).agg(F.min("ts"), F.max("ts")).collect()[0]
    start = (lo + dt.timedelta(hours=2)).replace(second=11, microsecond=0)
    end = (hi - dt.timedelta(minutes=7)).replace(second=43, microsecond=0)
    return realtime.stitch_transcripts(spark, fact, out, start, end)


def realtime_rollup_1h(spark, tmp):
    """the 1h realtime query over materialized tiers, one append past
    the refresh"""
    from gmql_spark import realtime

    fact, out = _stale_tiers(spark, tmp, "realtime")
    return realtime.realtime_rollup(spark, fact, out, tier="1h")


PSEUDO = {
    "transcript_rollup_1m": transcript_rollup_1m,
    "gsl_cascade_chain": gsl_cascade_chain,
    "pipeline_bucket_tiers": pipeline_bucket_tiers,
    "refresh_tiers": _refresh(False),
    "refresh_tiers_sketches": _refresh(True),
    "refresh_tiers_digest": _refresh("digest"),
    "append_transcripts": append_transcripts,
    "stitch_transcripts": stitch_transcripts,
    "realtime_rollup_1h": realtime_rollup_1h,
}


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = os.path.join(REPO, sys.argv.pop(1))
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    names = sys.argv[3:] or [*DEFAULT_QUERIES, *PSEUDO]

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

    queries = [n for n in names if n not in PSEUDO]
    if queries:
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        for name in queries:
            dump(name, qs[name](spark, sf_dir))
    with tempfile.TemporaryDirectory() as tmp:
        for name in names:
            if name in PSEUDO:
                dump(name, PSEUDO[name](spark, tmp))
    return 0


if __name__ == "__main__":
    sys.exit(main())
