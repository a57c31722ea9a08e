"""Retention: tier-aware expiry of old data.

North rule: "Continuous aggregates are materialized into retention
tiers (raw -> 1m -> 1h -> 1d)". Retention = each tier keeps a bounded
trailing window of event time; finer tiers expire sooner (raw keeps
days, 1m keeps weeks, 1d keeps forever). With an Iceberg catalog this
is ``expire_snapshots`` + partition-predicate deletes; on the parquet
fallback layout it is directory-level deletion of expired
``event_date=`` partitions — the same O(partitions) metadata operation,
no data rewrite.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
from datetime import date, timedelta

from gmql_spark.sources.catalog import footer_schema

DEFAULT_POLICY = {"raw": 30, "1m": 90, "1h": 365, "1d": None}  # days to keep


def swap_leaf(staged: str, dest: str, trash: str = "_swap_trash") -> None:
    """Replace the leaf directory ``dest`` with the fully written
    ``staged`` one by two renames: readers see the old leaf or the new
    one, never a half-written one. Between the renames the old leaf
    waits in the ``trash`` dir beside ``dest``, so a crash there leaves
    it intact until a later swap into ``dest`` supersedes it."""
    parent, name = os.path.split(dest)
    trash_root = os.path.join(parent, trash)
    aside = os.path.join(trash_root, name)
    shutil.rmtree(aside, ignore_errors=True)
    os.makedirs(trash_root, exist_ok=True)
    if os.path.exists(dest):
        os.rename(dest, aside)
    os.rename(staged, dest)
    shutil.rmtree(aside, ignore_errors=True)
    with contextlib.suppress(OSError):  # other leaves' crash copies stay
        os.rmdir(trash_root)


def expire_partitions(
    table_path: str,
    keep_days: int | None,
    as_of: date | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete ``event_date=YYYY-MM-DD`` partition dirs older than the
    horizon. Returns the list of expired partition paths."""
    if keep_days is None:
        return []
    as_of = as_of or date.today()
    horizon = as_of - timedelta(days=keep_days)
    expired = []
    pat = re.compile(r"event_date=(\d{4}-\d{2}-\d{2})$")
    for root, dirs, _files in os.walk(table_path):
        for d in list(dirs):
            m = pat.search(d)
            if m and date.fromisoformat(m.group(1)) < horizon:
                full = os.path.join(root, d)
                expired.append(full)
                if not dry_run:
                    shutil.rmtree(full)
    return sorted(expired)


def apply_retention(
    warehouse: str,
    policy: dict | None = None,
    as_of: date | None = None,
    dry_run: bool = False,
) -> dict[str, list[str]]:
    """Apply a per-tier retention policy over a warehouse directory
    (``<warehouse>/transcripts`` for raw, ``<warehouse>/rollup_<tier>``)."""
    policy = policy or DEFAULT_POLICY
    out = {}
    for tier, keep in policy.items():
        path = (
            os.path.join(warehouse, "transcripts")
            if tier == "raw"
            else os.path.join(warehouse, f"rollup_{tier}")
        )
        if os.path.exists(path):
            out[tier] = expire_partitions(path, keep, as_of=as_of, dry_run=dry_run)
    return out


def compact_partitions(
    spark,
    table_path: str,
    partition_col: str = "window_date",
    min_files: int = 2,
    partitions: list | None = None,
) -> dict[str, int]:
    """Rewrite fragmented table partitions into one file each — the
    Iceberg ``rewrite_data_files`` (compaction) analogue for the
    parquet-layout fallback. Incremental tier refreshes overwrite whole
    date partitions so fragmentation there is bounded, but append-heavy
    fact tables and frequent small refreshes accrete small files;
    compaction is the standing maintenance job that keeps scan task
    counts sane at warehouse scale.

    Only partitions holding more than ``min_files`` parquet files are
    rewritten, ONE partition at a time: the compacted file is fully
    written to an underscore-prefixed staging dir (invisible to Spark's
    reader) and swapped into place by :func:`swap_leaf` — so the table
    is never read-and-overwritten in the same job (self-overwrite at job
    commit is non-atomic and version/config-sensitive). Each leaf is
    read with the schema of one of its footers, so a rewrite is one
    Spark job. A crash between the swap's two renames leaves the
    partition absent from the table but intact under
    ``_compact_trash/`` (recover by renaming it back).
    Returns {partition_value: files_before} for the rewritten partitions."""
    frag: dict[str, int] = {}
    for entry in sorted(os.listdir(table_path)):
        if not entry.startswith(f"{partition_col}="):
            continue
        val = entry.split("=", 1)[1]
        if partitions is not None and val not in {str(p) for p in partitions}:
            continue
        nfiles = sum(
            1 for f in os.listdir(os.path.join(table_path, entry))
            if f.endswith(".parquet")
        )
        if nfiles > min_files:
            frag[val] = nfiles
    stage_root = os.path.join(table_path, "_compact_tmp")
    for val in frag:
        leaf = f"{partition_col}={val}"
        src = os.path.join(table_path, leaf)
        stage = os.path.join(stage_root, leaf)
        shutil.rmtree(stage, ignore_errors=True)  # THIS partition's stale staging
        # the leaf's schema from a footer: no inference job unless the
        # leaf holds no parquet file Spark wrote
        schema = footer_schema(src)
        reader = spark.read.schema(schema) if schema else spark.read
        reader.parquet(src).coalesce(1).write.mode("overwrite").parquet(stage)
        swap_leaf(stage, src, trash="_compact_trash")
    with contextlib.suppress(OSError):  # a crashed run's staging stays
        os.rmdir(stage_root)
    return frag


def compact_tier_tables(
    spark,
    out_dir: str,
    tiers: tuple = ("1m", "1h", "1d"),
    min_files: int = 2,
) -> dict[str, int]:
    """Compact the tier tables (``rollup_<tier>/window_date=D/*``) the
    same way :func:`compact_fact_table` compacts raw. Every
    ``refresh_tiers`` pass replaces the leaves of its touched dates with
    up to ``spark.sql.shuffle.partitions`` files per date — bounded per
    refresh, but across many dates the scan task count still grows far
    past one-file-per-partition. The staged-swap contract (stage →
    rename aside → rename in, per leaf) is inherited from
    :func:`compact_partitions`; serving results are unchanged because
    only the file layout moves, never rows — pinned by
    ``tests/test_skew_retention.py`` (hash-identical serving pre/post)
    and the ``tier_compaction`` row in BENCH/sf1.json.

    Returns {"rollup_<tier>/window_date=D": files_before}."""
    out: dict[str, int] = {}
    for t in tiers:
        path = os.path.join(out_dir, f"rollup_{t}")
        if not os.path.isdir(path):
            continue
        done = compact_partitions(
            spark, path, partition_col="window_date", min_files=min_files
        )
        out.update({f"rollup_{t}/window_date={v}": n for v, n in done.items()})
    return out


def compact_fact_table(
    spark,
    fact_path: str,
    min_files: int = 2,
    date_col: str = "event_date",
) -> dict[str, int]:
    """Compact an append-heavy fact table laid out as
    ``conv_bucket=N/event_date=D/*.parquet`` (catalog.write_transcripts):
    every small ``append_transcripts`` batch adds at least one file to
    each (bucket, date) leaf it touches, so under churn the leaf file
    count grows linearly with the number of appends. This walks the
    bucket dirs and applies :func:`compact_partitions`'s staged-swap
    rewrite to each one's date partitions independently — the same
    crash-safety contract per leaf, and bucket dirs are independent so
    a production job can run them in parallel or a few buckets per
    maintenance tick.

    Tables written with ``partition_days=False`` (no date level) are
    compacted as a single flat partition set at the top level.
    Returns {"conv_bucket=N/event_date=D": files_before}.
    """
    out: dict[str, int] = {}
    buckets = sorted(
        e
        for e in os.listdir(fact_path)
        if e.startswith("conv_bucket=")
        and os.path.isdir(os.path.join(fact_path, e))  # stray files would
        # make the os.listdir(bpath) below abort the whole sweep
    )
    flat: list[str] = []
    for b in buckets:
        bpath = os.path.join(fact_path, b)
        if any(e.startswith(f"{date_col}=") for e in os.listdir(bpath)):
            done = compact_partitions(
                spark, bpath, partition_col=date_col, min_files=min_files
            )
            out.update({f"{b}/{date_col}={v}": n for v, n in done.items()})
        elif sum(1 for f in os.listdir(bpath) if f.endswith(".parquet")) > min_files:
            # dateless layout: the bucket dir itself is the leaf
            flat.append(b.split("=", 1)[1])
    if flat:
        # ONE staged-swap sweep over every fragmented dateless bucket —
        # a per-bucket call would re-list the whole fact dir per bucket
        done = compact_partitions(
            spark, fact_path, partition_col="conv_bucket",
            min_files=min_files, partitions=flat,
        )
        out.update({f"conv_bucket={v}": n for v, n in done.items()})
    return out
