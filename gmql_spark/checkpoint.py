"""Resumable, checkpointed tier pipeline with per-partition lineage.

North-rule requirement: "resumable from per-partition checkpoints
carrying lineage and metrics (rows in/out, bytes, watermark)". The
reference's only notion of progress is whole-query materialization
(``GMQLSparkExecutor.scala:157-180`` writes outputs + profiler stats at
the end); here the unit of work is a conv_id hash bucket — the same
bucketing the storage layout uses — so a killed job re-runs only the
buckets whose manifest entry is missing.

Driver-side work is O(#buckets) JSON bookkeeping; all data work stays in
Spark jobs, each bucket job reading only its own fact leaves
(``sources.catalog.read_fact_leaves``).

One plan and one write per bucket: every tier of the bucket is one
frame from the tier builder (``rollup._build_tiers``), written once,
partitioned by tier, into the pipeline staging dir; its Gorilla streams
are one more write from that staging. Each staged tier leaf is then
swapped into the bucket's leaf of its tier (and Gorilla) table
(``sources.catalog.swap_leaf``); the manifest line follows the last
swap. A crash before that line leaves the bucket unfinished: the next
run clears the stale staging directory and redoes the bucket. rows_in
and the watermark are observed on the bucket's raw rows during the
write (``DataFrame.observe``); rows and bytes out come from the parquet
footers. With ``compress=True`` and a table written with ingest-time
gaps a bucket runs 4 Spark jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gmql_spark.sources import catalog


def _observed(obs: Observation) -> dict:
    """The metrics ``obs`` collected, or {} when Spark pruned the
    observed rows away as statically empty and so collected none."""
    try:
        return obs.get
    except Py4JJavaError:  # the JVM holds an empty, schema-less row
        return {}


def _write_by_tier(df: DataFrame, path: str, tiers: Sequence[str]) -> None:
    """Write ``df`` partitioned by its ``tier`` column. A tier without
    rows still gets a schema-only leaf, as a plain write of an empty
    frame would: a partitioned write creates no leaf for it."""
    df.write.mode("overwrite").partitionBy("tier").parquet(path)
    for tier in tiers:
        leaf = catalog.leaf(path, tier=tier)
        if not os.path.exists(leaf):
            empty = df.sparkSession.createDataFrame([], df.drop("tier").schema)
            empty.write.parquet(leaf)


class Manifest:
    """Append-only JSONL checkpoint manifest; one entry per completed
    (bucket) partition with metrics + lineage."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def done_buckets(self, n_buckets: int | None = None) -> set[int]:
        """Completed bucket indices. When ``n_buckets`` is given, refuse
        to resume a manifest written with a different bucket count —
        bucket indices are only comparable under the same pmod
        partitioning (mixing them silently skips the wrong buckets and
        corrupts the resumed output)."""
        done = set()
        for e in self.entries():
            if e.get("status") != "done":
                continue
            if (
                n_buckets is not None
                and e.get("n_buckets") is not None
                and e["n_buckets"] != n_buckets
            ):
                raise ValueError(
                    f"manifest {self.path} was written with n_buckets="
                    f"{e['n_buckets']}, cannot resume with n_buckets={n_buckets}; "
                    "use a fresh out_dir or rerun with the original bucket count"
                )
            done.add(e["bucket"])
        return done

    def append(self, entry: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(entry, default=str) + "\n")


def run_pipeline(
    spark: SparkSession,
    raw: DataFrame | None,
    out_dir: str,
    tiers: Sequence[str] = ("1m", "1h", "1d"),
    n_buckets: int = 8,
    lineage: str = "",
    fail_after: int | None = None,
    on_bucket_done: Callable[[dict], None] | None = None,
    compress: bool = False,
    raw_path: str | None = None,
) -> dict:
    """Run the tier rollup bucket-by-bucket with checkpoint/resume.

    Buckets are ``catalog.bucket_of(n_buckets)``, the storage
    layout's bucket transform. **Pass
    ``raw_path``** (a table written by ``catalog.write_transcripts`` with
    the same ``n_buckets``) to make each bucket job PARTITION-PRUNE to
    its own ``conv_bucket=<b>`` directory — 1/n of the input scanned per
    bucket job. With only a ``raw`` DataFrame the per-bucket filter is on
    a computed hash, so every bucket job scans the full input (n_buckets×
    scan amplification — fine for in-memory tests, a scale-killer on a
    real table). ``fail_after`` kills the run
    after N buckets (test hook for kill/resume equivalence).
    ``compress=True`` additionally writes Gorilla-packed streams of each
    tier's turn_count series (delta-of-delta timestamps + XOR values,
    north-rule storage codec). A bucket without rows still gets a
    schema-only parquet per tier.
    """
    if raw is None and raw_path is None:
        raise ValueError("provide raw (DataFrame) or raw_path (bucketed table)")
    if raw_path is not None:
        # the job's bucket range must cover the table's layout, or high
        # buckets would silently never be processed
        found = catalog.fact_buckets(raw_path)
        if found and max(found) >= n_buckets:
            raise ValueError(
                f"table at {raw_path} has conv_bucket up to {max(found)} but "
                f"n_buckets={n_buckets}; pass the n_buckets the table was "
                "written with"
            )

    from gmql_spark.operators.rollup import (
        DEFAULT_ROLES,
        _build_tiers,
        with_gap_seconds,
    )

    key, ts = catalog.FACT_KEY, catalog.FACT_TS
    manifest = Manifest(f"{out_dir}/_manifest.jsonl")
    done = manifest.done_buckets(n_buckets=n_buckets)
    stage = f"{out_dir}/{catalog.PIPELINE_STAGING}"
    ran = skipped = 0
    for b in range(n_buckets):
        if b in done:
            skipped += 1
            continue
        if fail_after is not None and ran >= fail_after:
            raise RuntimeError(f"injected failure after {ran} buckets")
        t0 = time.time()
        # staging left behind by a crash belongs to an unfinished bucket
        shutil.rmtree(stage, ignore_errors=True)
        if raw_path is not None:
            # only the conv_bucket=<b> leaves are listed and read, with the
            # table's footer schema: no schema-inference job
            part = catalog.read_fact_leaves(spark, raw_path, bucket=b)
        else:
            part = raw.filter(catalog.bucket_of(n_buckets) == b)
        # rows_in/watermark ride the bucket's write: observed on the raw
        # rows (null-ts rows included), not a separate job
        meta = Observation()
        part = part.observe(
            meta, F.count(F.lit(1)).alias("rows_in"), F.max(ts).alias("watermark")
        )
        # every tier of the bucket in one plan and one write; rows and
        # bytes come from the written parquet's footers — no Spark job
        tiers_df = _build_tiers(
            with_gap_seconds(part, key=key, order=catalog.FACT_ORDER, ts=ts), None, tiers,
            key=key, ts=ts, role_values=DEFAULT_ROLES, tool_values=None, with_sketches=False,
        )
        _write_by_tier(tiers_df, f"{stage}/rollup", tiers)
        tables = ["rollup"]
        if compress:
            from gmql_spark.compression.gorilla import compress_series

            # read back with the known schema: no schema-inference job
            series = (
                catalog.read_table(spark, f"{stage}/rollup", schema=tiers_df.schema)
                .select(
                    "tier", key, "window_start",
                    F.col("turn_count").cast("double").alias("val"),
                )
            )
            packed = compress_series(
                series, keys=["tier", key], ts_col="window_start", value_col="val"
            )
            _write_by_tier(packed, f"{stage}/gorilla", tiers)
            tables.append("gorilla")
        dest = {
            (n, t): catalog.leaf(catalog.tier_table(out_dir, t, n), **{catalog.TIER_BUCKET: b})
            for n in tables for t in tiers
        }
        for (name, tier), leaf in dest.items():
            catalog.swap_leaf(catalog.leaf(f"{stage}/{name}", tier=tier), leaf)
        shutil.rmtree(stage)
        tier_stats = {}
        for tier in tiers:
            rows, nbytes = catalog.footer_stats(dest["rollup", tier])
            tier_stats[tier] = {"rows_out": rows, "bytes": nbytes}
            if compress:
                tier_stats[tier]["gorilla_bytes"] = catalog.footer_stats(
                    dest["gorilla", tier]
                )[1]
        observed = _observed(meta)
        entry = {
            "bucket": b,
            "n_buckets": n_buckets,
            "status": "done",
            "source": raw_path or "<dataframe>",
            "rows_in": observed.get("rows_in", 0),
            "watermark": observed.get("watermark"),
            "tiers": tier_stats,
            "lineage": lineage,
            "wall_s": round(time.time() - t0, 3),
        }
        manifest.append(entry)
        if on_bucket_done:
            on_bucket_done(entry)
        ran += 1
    return {"ran": ran, "skipped": skipped, "buckets": n_buckets}
