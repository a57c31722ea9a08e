"""Table storage layer: the one module that knows how the engine's
tables sit on disk.

Every engine table is a directory of hive-style partition directories
(``<col>=<value>``) over parquet files: the Iceberg layout's fallback
(FIXTURES.md §1, ``bucket(16, conv_id), days(ts)``) with the same
pruning. Names starting with ``_`` or ``.`` are hidden from Spark's
reader and from the leaf walk, so state, staging and trash live beside
the data. The tables, partition columns outermost first:

- fact ``<fact>``: ``conv_bucket``, ``event_date`` (no date level with
  ``partition_days=False``); written by ``write_transcripts``, appended
  to by ``incremental.append_transcripts`` (``move_files``); its key,
  event time and turn order (``FACT_KEY``/``FACT_TS``/``FACT_ORDER``)
  are this layer's, not options of the functions bound to it;
- conv state ``<fact>/_conv_state/v_<n>``: ``conv_bucket``; one version
  per append;
- tier ``<out>/rollup_<t>``: ``window_date`` when
  ``incremental.refresh_tiers`` writes it, ``bucket`` when
  ``checkpoint.run_pipeline`` does;
- Gorilla ``<out>/gorilla_<t>``: ``bucket``; ``run_pipeline(compress=True)``.

Writers stage first (``<fact>/_append_staging``,
``<out>/_refresh_staging``, ``<out>/_staging``,
``<table>/_compact_staging``) and replace a leaf by ``swap_leaf``
through the ``_swap_trash/`` dir beside it. After a crash mid-swap the
old leaf waits there (recover by renaming it back), and later swaps of
other leaves keep it; the next compaction clears the staging a crashed
one left. Reads (``read_table``) list and open only the leaves asked
for, with the schema of one footer: no inference or listing job,
however old the table. The reference keeps each dataset's schema in a
catalog (``GMQL-Repository``) and writes one file per sample
(``StoreTABRD.scala:23-95``).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from collections.abc import Callable, Collection
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, IntegerType, StringType, StructField, StructType

N_BUCKETS_DEFAULT = 16
FACT_KEY, FACT_TS, FACT_ORDER = "conv_id", "ts", "turn_idx"
# the fact table's partition columns, typed as schema inference types them
FACT_PARTITIONS = {"conv_bucket": IntegerType(), "event_date": DateType()}
TIER_DATE = "window_date"  # refresh_tiers' tier tables
TIER_BUCKET = "bucket"  # run_pipeline's tier and Gorilla tables
DATE_COLUMNS = ("event_date", TIER_DATE)  # the levels retention expires

APPEND_STAGING = "_append_staging"  # under the fact table
REFRESH_STAGING = "_refresh_staging"  # under a tier root
PIPELINE_STAGING = "_staging"  # under a tier root
COMPACT_STAGING = "_compact_staging"  # under a compacted table


def bucket_of(n_buckets: int) -> Column:
    """``conv_bucket``: Iceberg's bucket transform role, shared by the
    fact table, the conv state and the pipeline's work partitioning."""
    return F.pmod(F.xxhash64(F.col(FACT_KEY)), F.lit(n_buckets)).cast("int")


def tier_table(root: str, tier: str, kind: str = "rollup") -> str:
    """Tier ``tier``'s ``kind`` ("rollup" or "gorilla") table."""
    return f"{root}/{kind}_{tier}"


def state_root(fact_path: str) -> str:
    """The conv state's directory under the fact table."""
    return f"{fact_path}/_conv_state"


def leaf(table: str, **parts) -> str:
    """The path of ``table``'s partition directory ``col=value/...``."""
    return "/".join([table, *(f"{c}={v}" for c, v in parts.items())])


def _partition_dirs(path: str) -> list[str]:
    """The partition directories directly under ``path``, sorted; none
    when ``path`` does not exist."""
    with contextlib.suppress(FileNotFoundError), os.scandir(path) as it:
        return sorted(
            e.name for e in it
            if e.is_dir() and "=" in e.name and not e.name.startswith(("_", "."))
        )
    return []


def fact_buckets(path: str) -> list[int]:
    """The ``conv_bucket`` values of the fact table at ``path``."""
    parts = (n.split("=", 1) for n in _partition_dirs(path))
    return [int(v) for c, v in parts if c == "conv_bucket"]


def leaves(
    path: str, **where: Collection | Callable[[str], bool] | None
) -> list[str]:
    """The table's partition directories with none below them, sorted.
    Each keyword names a partition column a leaf must have on its path,
    restricted to a collection of values, to the values a predicate
    accepts, or (None) to any; only dirs that can still qualify are
    listed."""
    keeps = {
        c: v if v is None or callable(v) else {str(x) for x in v}.__contains__
        for c, v in where.items()
    }
    found: list[str] = []

    def walk(d: str, cols: frozenset) -> None:
        subs = _partition_dirs(d)
        if not subs and d != path and cols >= keeps.keys():
            found.append(d)
        for name in subs:
            col, val = name.split("=", 1)
            if keeps.get(col) is None or keeps[col](val):
                walk(f"{d}/{name}", cols | {col})

    walk(path, frozenset())
    return found


def date_leaves(path: str) -> dict[str, str]:
    """{leaf: date value} of the table at ``path``, whose leaves are its
    date partitions (``DATE_COLUMNS``); the null date's value sorts after
    every ISO date. Raises ValueError for a table whose leaves have no
    date level: it cannot be expired by date."""
    out = {}
    for lf in leaves(path):
        col, out[lf] = os.path.basename(lf).split("=", 1)
        if col not in DATE_COLUMNS:
            raise ValueError(
                f"table at {path} has no date partition level "
                f"({' or '.join(DATE_COLUMNS)}): its leaf {lf} cannot be "
                "expired by date"
            )
    return out


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


def columns(path: str) -> list[str] | None:
    """The column names ``footer_schema`` reads, or None."""
    schema = footer_schema(path)
    return schema.fieldNames() if schema is not None else None


def sketch_mode(table: str) -> bool | str | None:
    """The ``with_sketches`` mode of the tier table at ``table`` from one
    footer (no job), None without a data file; an unreadable one raises."""
    cols = columns(table)
    if cols is None:
        return None
    return "digest" if "lat_digest" in cols else "lat_hist" in cols


def read_table(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    **where: Collection | Callable[[str], bool] | None,
) -> DataFrame:
    """The rows of the table at ``path`` in the leaves ``where`` selects
    (``leaves``; every leaf when empty), partition columns included.
    Only those leaves are listed and read, with ``schema`` (a table the
    caller has just written) or one footer's and ``basePath``, in chunks
    under Spark's parallel-discovery threshold (past it Spark lists in a
    job): no job. A table without a footer Spark wrote is read with
    schema inference; one without partition directories is its own leaf."""
    schema = schema or footer_schema(path)
    found = leaves(path, **where)
    if not found and not where:
        found = [path]
    if not found:
        if schema is None:  # fails, or infers, as a whole-table open does
            return spark.read.parquet(path).limit(0)
        # typed as a read types it: every column nullable
        nullable = StructType([StructField(f.name, f.dataType) for f in schema])
        return spark.createDataFrame([], nullable)
    return _open(spark, path, found, schema)


def _open(spark: SparkSession, path: str, found: list, schema: StructType | None) -> DataFrame:
    """``read_table``'s open of the leaf dirs ``found`` of ``path``."""
    n = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    reader = (spark.read.schema(schema) if schema else spark.read).option("basePath", path)
    chunks = [reader.parquet(*found[i : i + n]) for i in range(0, len(found), n)]
    return reduce(DataFrame.union, chunks)


def footer_stats(path: str) -> tuple[int, int]:
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


def swap_leaf(staged: str, dest: str) -> None:
    """Replace the leaf directory ``dest`` with the fully written
    ``staged`` one by two renames: readers see the old leaf or the new
    one, never a half-written one. Between the renames the old leaf
    waits in ``_swap_trash/`` beside ``dest``, so a crash there leaves
    it intact until a later swap into ``dest`` supersedes it."""
    parent, name = os.path.split(dest)
    trash_root = os.path.join(parent, "_swap_trash")
    aside = os.path.join(trash_root, name)
    shutil.rmtree(aside, ignore_errors=True)
    os.makedirs(trash_root, exist_ok=True)
    if os.path.exists(dest):
        os.rename(dest, aside)
    os.rename(staged, dest)
    shutil.rmtree(aside, ignore_errors=True)
    with contextlib.suppress(OSError):  # other leaves' crash copies stay
        os.rmdir(trash_root)


def swap_leaves(stage: str, table: str) -> None:
    """Swap every leaf of ``stage`` into the same place of ``table``;
    the table's other leaves stay as they are."""
    os.makedirs(table, exist_ok=True)
    for src in leaves(stage):
        swap_leaf(src, os.path.join(table, os.path.relpath(src, stage)))


def move_files(stage: str, table: str) -> None:
    """Move every parquet file under ``stage`` into the same leaf of
    ``table``; Spark's file names are unique per write job."""
    for root, _dirs, files in os.walk(stage):
        parquet = [f for f in files if f.endswith(".parquet")]
        if not parquet:
            continue
        dest = os.path.join(table, os.path.relpath(root, stage))
        os.makedirs(dest, exist_ok=True)
        for f in parquet:
            os.rename(os.path.join(root, f), os.path.join(dest, f))


def compact(
    spark: SparkSession, table: str, min_files: int,
    **where: Collection | Callable[[str], bool] | None,
) -> dict[str, int]:
    """Rewrite each leaf of ``table`` that ``where`` selects and that holds
    more than ``min_files`` parquet files into one file, all in one write
    staged in ``_compact_staging/`` and swapped in by ``swap_leaves``. Rows
    sort by the partition columns (the strings on the leaf path), then
    every non-map column in table order; crash contract in the module
    docstring. Returns {leaf relative to ``table``: files_before}."""
    done = {
        os.path.relpath(lf, table): n for lf in leaves(table, **where)
        if (n := sum(f.endswith(".parquet") for f in os.listdir(lf))) > min_files
    }
    if not done:
        return done
    parts = [p.split("=", 1)[0] for p in next(iter(done)).split(os.sep)]
    data = [f for f in footer_schema(table) or () if f.name not in parts]
    schema = StructType(data + [StructField(c, StringType()) for c in parts]) if data else None
    rows = _open(spark, table, [os.path.join(table, lf) for lf in done], schema)
    order = parts + [f.name for f in rows.schema
                     if f.name not in parts and "map<" not in f.dataType.simpleString()]
    stage = os.path.join(table, COMPACT_STAGING)
    shutil.rmtree(stage, ignore_errors=True)
    rows = rows.repartition(*parts).sortWithinPartitions(*order)
    rows.write.partitionBy(*parts).parquet(stage)
    swap_leaves(stage, table)
    shutil.rmtree(stage)
    return done


def write_transcripts(
    df: DataFrame,
    path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    mode: str = "overwrite",
    precompute_gaps: bool = False,
    partition_days: bool = True,
) -> None:
    """Write the fact table with bucket(conv_id) × days(ts) partitioning.

    ``conv_bucket`` (``bucket_of``) matches checkpoint.run_pipeline's
    work partitioning, so resume jobs prune to one directory per bucket.

    ``precompute_gaps=True`` materializes the inter-turn ``gap_us``
    derived column at ingest (one window pass, here, once) so every
    downstream rollup/percentile job skips the raw-scale sort shuffle —
    the single most effective plan change for the tier pipeline.
    ``partition_days=False`` skips the date dir level (useful for small
    benchmarks where days() would shatter file sizes).
    """
    if precompute_gaps:
        from gmql_spark.operators.rollup import with_gap_seconds

        df = with_gap_seconds(df, key=FACT_KEY, order=FACT_ORDER, ts=FACT_TS).drop("gap_s")
    out = df.withColumn("conv_bucket", bucket_of(n_buckets))
    part_cols = ["conv_bucket"]
    if partition_days:
        out = out.withColumn("event_date", F.to_date(F.col(FACT_TS)))
        part_cols.append("event_date")
    (
        out.repartition(n_buckets, "conv_bucket")  # one writer wave per bucket
        .write.mode(mode)
        .partitionBy(*part_cols)
        .parquet(path)
    )


def read_fact_leaves(
    spark: SparkSession,
    path: str,
    bucket: int | None = None,
    dates: Collection | Callable[[str], bool] | None = None,
) -> DataFrame:
    """The fact table's rows of one ``bucket`` and/or of ``dates`` (a
    collection of ISO dates, or a predicate on them; every bucket or
    date when None), without its partition columns, read through
    ``read_table``: only the leaves ``conv_bucket=<b>/event_date=<d>``
    concerned are listed and read."""
    where = {"conv_bucket": None if bucket is None else [bucket], "event_date": dates}
    where = {c: v for c, v in where.items() if v is not None}
    return read_table(spark, path, **where).drop(*FACT_PARTITIONS)


def read_transcripts(
    spark: SparkSession, path: str, buckets: list[int] | None = None
) -> DataFrame:
    """Read the fact table (``gap_us``, if present, is kept); only the
    leaves of ``buckets`` (every bucket when None) are listed and read,
    with the schema of one footer: building the read runs no Spark
    job."""
    where = {} if buckets is None else {"conv_bucket": buckets}
    return read_table(spark, path, **where).drop(*FACT_PARTITIONS)
