"""Resumable, checkpointed tier pipeline with per-partition lineage.

North-rule requirement: "resumable from per-partition checkpoints
carrying lineage and metrics (rows in/out, bytes, watermark)". The
reference's only notion of progress is whole-query materialization
(``GMQLSparkExecutor.scala:157-180`` writes outputs + profiler stats at
the end); here the unit of work is a conv_id hash bucket — the same
bucketing the storage layout uses — so a killed job re-runs only the
buckets whose manifest entry is missing.

Driver-side work is O(#buckets) JSON bookkeeping; all data work stays in
Spark jobs. At scale each bucket job prunes to its partition via the
storage layout (`bucket=` dirs / Iceberg bucket transform) instead of
scanning the full input.

One plan and one write per bucket: every tier of the bucket is one
frame from the tier builder (``rollup._build_tiers``), written once,
partitioned by tier, into ``<out_dir>/_staging``; its Gorilla streams
are one more write from that staging. Each ``tier=<t>`` leaf is then
swapped into ``rollup_<t>/bucket=<b>`` (``gorilla_<t>/bucket=<b>``)
(``retention.swap_leaf``); the manifest line follows the last swap. A crash
before that line — after the staging write, or between renames — leaves
the bucket unfinished: the next run clears the stale staging directory
and redoes the bucket, replacing whatever leaves it had already moved.
rows_in and the watermark are observed on the bucket's raw rows during
the write (``DataFrame.observe``); rows and bytes out come from the
parquet footers. A bucket of a table (``raw_path``) reads only its own
leaves, with the schema from a footer
(``sources.catalog.read_fact_leaves``): no schema-inference job. With
``compress=True`` and a table written with ingest-time gaps a bucket
runs 4 Spark jobs.
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


def _parquet_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of all parquet files under ``path`` via footers —
    no Spark job."""
    import pyarrow.parquet as pq

    rows = size = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                fp = os.path.join(root, fn)
                rows += pq.ParquetFile(fp).metadata.num_rows
                size += os.path.getsize(fp)
    return rows, size


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
        leaf = f"{path}/tier={tier}"
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
    key: str = "conv_id",
    ts: str = "ts",
    lineage: str = "",
    fail_after: int | None = None,
    on_bucket_done: Callable[[dict], None] | None = None,
    compress: bool = False,
    raw_path: str | None = None,
) -> dict:
    """Run the tier rollup bucket-by-bucket with checkpoint/resume.

    Buckets are ``pmod(xxhash64(key), n_buckets)`` — deterministic, and
    aligned with the storage layout's bucket transform. **Pass
    ``raw_path``** (a table written by ``catalog.write_transcripts`` with
    the same ``n_buckets``) to make each bucket job PARTITION-PRUNE to
    its own ``conv_bucket=<b>`` directory — 1/n of the input scanned per
    bucket job. With only a ``raw`` DataFrame the per-bucket filter is on
    a computed hash, so every bucket job scans the full input (n_buckets×
    scan amplification — fine for in-memory tests, a scale-killer on a
    real table). ``fail_after`` kills the run
    after N buckets (test hook for kill/resume equivalence).
    ``compress=True`` additionally writes Gorilla-packed streams of each
    tier's turn_count series (``gorilla_<tier>/bucket=<b>``: delta-of-
    delta timestamps + XOR values, north-rule storage codec).

    Each bucket is written once to ``<out_dir>/_staging`` and renamed
    into place; the manifest line follows the last rename, so a crash
    anywhere before it redoes the bucket on resume (module docstring).
    A bucket without rows still gets a schema-only parquet per tier.
    """
    if raw is None and raw_path is None:
        raise ValueError("provide raw (DataFrame) or raw_path (bucketed table)")
    if raw_path is not None:
        # the job's bucket range must cover the table's layout, or high
        # buckets would silently never be processed
        import re

        try:
            found = {
                int(m.group(1))
                for d in os.listdir(raw_path)
                if (m := re.match(r"conv_bucket=(\d+)$", d))
            }
        except OSError:
            found = set()
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
    from gmql_spark.retention import swap_leaf
    from gmql_spark.sources.catalog import read_fact_leaves

    manifest = Manifest(f"{out_dir}/_manifest.jsonl")
    done = manifest.done_buckets(n_buckets=n_buckets)
    stage = f"{out_dir}/_staging"
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
            part = read_fact_leaves(spark, raw_path, bucket=b)
        else:
            part = raw.filter(F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)) == b)
        # rows_in/watermark ride the bucket's write: observed on the raw
        # rows (null-ts rows included), not a separate job
        meta = Observation()
        part = part.observe(
            meta, F.count(F.lit(1)).alias("rows_in"), F.max(ts).alias("watermark")
        )
        # every tier of the bucket in one plan and one write; rows and
        # bytes come from the written parquet's footers — no Spark job
        tiers_df = _build_tiers(
            with_gap_seconds(part, key=key, ts=ts), None, tiers, key=key, ts=ts,
            role_values=DEFAULT_ROLES, tool_values=None, with_sketches=False,
        )
        _write_by_tier(tiers_df, f"{stage}/rollup", tiers)
        tables = ["rollup"]
        if compress:
            from gmql_spark.compression.gorilla import compress_series

            # read back with the known schema: no schema-inference job
            series = (
                spark.read.schema(tiers_df.schema)
                .parquet(f"{stage}/rollup")
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
        for name in tables:
            for tier in tiers:
                leaf = f"{out_dir}/{name}_{tier}/bucket={b}"
                swap_leaf(f"{stage}/{name}/tier={tier}", leaf)
        shutil.rmtree(stage)
        tier_stats = {}
        for tier in tiers:
            rows, nbytes = _parquet_stats(f"{out_dir}/rollup_{tier}/bucket={b}")
            tier_stats[tier] = {"rows_out": rows, "bytes": nbytes}
            if compress:
                tier_stats[tier]["gorilla_bytes"] = _parquet_stats(
                    f"{out_dir}/gorilla_{tier}/bucket={b}"
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
