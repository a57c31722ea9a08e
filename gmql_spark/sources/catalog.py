"""Table storage layer: Iceberg-shaped partitioned tables.

Target layout (FIXTURES.md §1 / north rule): fact table partitioned by
``bucket(16, conv_id), days(ts)``. When an Iceberg runtime jar is on the
classpath we use the real transforms (``writeTo(...).partitionedBy(
bucket(16, col), days(col))``); this sandbox has no Iceberg jar, so the
fallback materializes the SAME layout as hive-style parquet dirs
(``conv_bucket=<n>/event_date=<d>``) — identical pruning behavior
(partition filters on conv_bucket/event_date prune directories), and the
write path is a drop-in swap.

The reference's analogue: one file per sample via a custom partitioner +
``MultipleTextOutputFormat`` (``StoreTABRD.scala:23-95``) and md5-named
dataset dirs; here partition pruning and schema/metrics come from the
table format.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, IntegerType, StructField, StructType

N_BUCKETS_DEFAULT = 16
# the fact table's partition columns, typed as schema inference types them
FACT_PARTITIONS = {"conv_bucket": IntegerType(), "event_date": DateType()}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Schema  # noqa: SLF001
        return True
    except Exception:
        return False


def write_transcripts(
    df: DataFrame,
    path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    key: str = "conv_id",
    ts: str = "ts",
    mode: str = "overwrite",
    precompute_gaps: bool = False,
    partition_days: bool = True,
) -> None:
    """Write the fact table with bucket(key) × days(ts) partitioning.

    ``conv_bucket = pmod(xxhash64(key), n)`` mirrors Iceberg's bucket
    transform role (hash co-location of each conversation) and matches
    checkpoint.run_pipeline's work partitioning, so resume jobs prune to
    one directory per bucket.

    ``precompute_gaps=True`` materializes the inter-turn ``gap_us``
    derived column at ingest (one window pass, here, once) so every
    downstream rollup/percentile job skips the raw-scale sort shuffle —
    the single most effective plan change for the tier pipeline.
    ``partition_days=False`` skips the date dir level (useful for small
    benchmarks where days() would shatter file sizes).
    """
    if precompute_gaps:
        from gmql_spark.operators.rollup import with_gap_seconds

        df = with_gap_seconds(df, key=key, ts=ts).drop("gap_s")
    out = df.withColumn(
        "conv_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )
    part_cols = ["conv_bucket"]
    if partition_days:
        out = out.withColumn("event_date", F.to_date(F.col(ts)))
        part_cols.append("event_date")
    (
        out.repartition(n_buckets, "conv_bucket")  # one writer wave per bucket
        .write.mode(mode)
        .partitionBy(*part_cols)
        .parquet(path)
    )


def read_transcripts(
    spark: SparkSession, path: str, buckets: list[int] | None = None
) -> DataFrame:
    """Read the fact table; ``buckets`` filter prunes partitions at plan
    time (visible as PartitionFilters in explain())."""
    df = spark.read.parquet(path)
    if buckets is not None:
        df = df.filter(F.col("conv_bucket").isin(buckets))
    return df.drop("conv_bucket", "event_date")  # gap_us (if present) is kept


def footer_schema(path: str) -> StructType | None:
    """Schema of the table under ``path`` from one parquet footer — no
    Spark job — or None when it holds no parquet file Spark wrote. The
    data columns come from the row metadata Spark stores in every footer
    it writes, nullability included; the fact table's partition columns
    on that file's path follow, typed."""
    import pyarrow.parquet as pq

    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for fn in sorted(files):
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            meta = pq.read_metadata(os.path.join(root, fn)).metadata or {}
            row = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
            if row is None:
                return None
            fields = StructType.fromJson(json.loads(row)).fields
            for part in os.path.relpath(root, path).split(os.sep):
                name = part.split("=", 1)[0]
                if name in FACT_PARTITIONS:
                    fields.append(StructField(name, FACT_PARTITIONS[name]))
            return StructType(fields)
    return None


def _fact_leaves(path: str, bucket: int | None, dates: Sequence[str] | None) -> list[str]:
    """The existing leaf directories of the fact table at ``path`` that
    hold ``bucket``'s (every bucket's when None) rows of ``dates``
    (every date's when None), found by listing only the bucket
    directories concerned."""
    buckets = (
        [f"conv_bucket={bucket}"]
        if bucket is not None
        else sorted(e for e in os.listdir(path) if e.startswith("conv_bucket="))
    )
    leaves = []
    for b in buckets:
        bdir = f"{path}/{b}"
        if not os.path.isdir(bdir):
            continue
        if dates is None:  # every date; a table without days is its buckets
            days = sorted(e for e in os.listdir(bdir) if e.startswith("event_date="))
            leaves += [f"{bdir}/{d}" for d in days] if days else [bdir]
        else:
            leaves += [
                f"{bdir}/event_date={d}"
                for d in dates
                if os.path.isdir(f"{bdir}/event_date={d}")
            ]
    return leaves


def read_fact_leaves(
    spark: SparkSession,
    path: str,
    bucket: int | None = None,
    dates: Sequence[str] | None = None,
) -> DataFrame:
    """The fact table's rows of one ``bucket`` and/or of ``dates``
    (every bucket or date when None), without its partition columns.

    Only those leaves (``conv_bucket=<b>/event_date=<d>``) are listed
    and read, with the schema of one footer (``footer_schema``) and
    ``basePath``: no schema-inference job, and a listing that grows
    with the leaves read, not with the table. Spark lists more root
    paths than its parallel-discovery threshold in a Spark job, so the
    leaves are read in chunks under it and unioned. A table without a
    parquet file Spark wrote is opened whole and filtered, so it fails
    (or infers) as that read does."""
    schema = footer_schema(path)
    if schema is None:
        df = spark.read.parquet(path)
        if bucket is not None:
            df = df.filter(F.col("conv_bucket") == bucket)
        if dates is not None:
            df = df.filter(F.col("event_date").isin(list(dates)))
        return df.drop(*FACT_PARTITIONS)
    leaves = _fact_leaves(path, bucket, dates)
    if not leaves:  # typed as a read types it: every column nullable
        nullable = StructType([StructField(f.name, f.dataType) for f in schema])
        return spark.createDataFrame([], nullable).drop(*FACT_PARTITIONS)
    n = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    reader = spark.read.schema(schema).option("basePath", path)
    chunks = [reader.parquet(*leaves[i : i + n]) for i in range(0, len(leaves), n)]
    return reduce(DataFrame.union, chunks).drop(*FACT_PARTITIONS)
