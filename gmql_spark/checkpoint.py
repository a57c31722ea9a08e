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
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
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

    manifest = Manifest(f"{out_dir}/_manifest.jsonl")
    done = manifest.done_buckets(n_buckets=n_buckets)
    ran = skipped = 0
    for b in range(n_buckets):
        if b in done:
            skipped += 1
            continue
        if fail_after is not None and ran >= fail_after:
            raise RuntimeError(f"injected failure after {ran} buckets")
        t0 = time.time()
        if raw_path is not None:
            # partition-pruned scan: only the conv_bucket=<b> dirs are
            # read (PartitionFilters in the plan — asserted by tests)
            from gmql_spark.sources.catalog import read_transcripts

            part = read_transcripts(spark, raw_path, buckets=[b])
        else:
            part = raw.filter(F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)) == b)
        meta = part.agg(
            F.count(F.lit(1)).alias("rows_in"), F.max(ts).alias("watermark")
        ).collect()[0]
        # every tier is built from the bucket's gap frame by the one
        # tier builder (no sketches here: a direct fused rollup per
        # tier, nothing read back from the written finer tier); rows and
        # bytes come from the written parquet's footers — no Spark job
        from gmql_spark.operators.rollup import (
            DEFAULT_ROLES,
            _build_tier,
            with_gap_seconds,
        )

        raw_g = with_gap_seconds(part, key=key, ts=ts)
        tier_stats = {}
        for tier in tiers:
            path = f"{out_dir}/rollup_{tier}/bucket={b}"
            df = _build_tier(
                raw_g, None, tier, key=key, ts=ts, role_values=DEFAULT_ROLES,
                tool_values=None, with_sketches=False,
            )
            df.write.mode("overwrite").parquet(path)
            rows, nbytes = _parquet_stats(path)
            tier_stats[tier] = {"rows_out": rows, "bytes": nbytes}
            if compress:
                from gmql_spark.compression.gorilla import compress_series

                gpath = f"{out_dir}/gorilla_{tier}/bucket={b}"
                series = part.sparkSession.read.parquet(path).select(
                    key, "window_start", F.col("turn_count").cast("double").alias("val")
                )
                compress_series(series, keys=[key], ts_col="window_start", value_col="val").write.mode(
                    "overwrite"
                ).parquet(gpath)
                _g_rows, g_bytes = _parquet_stats(gpath)
                tier_stats[tier]["gorilla_bytes"] = g_bytes
        entry = {
            "bucket": b,
            "n_buckets": n_buckets,
            "status": "done",
            "source": raw_path or "<dataframe>",
            "rows_in": meta.rows_in,
            "watermark": meta.watermark,
            "tiers": tier_stats,
            "lineage": lineage,
            "wall_s": round(time.time() - t0, 3),
        }
        manifest.append(entry)
        if on_bucket_done:
            on_bucket_done(entry)
        ran += 1
    return {"ran": ran, "skipped": skipped, "buckets": n_buckets}
