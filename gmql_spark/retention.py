"""Retention: tier-aware expiry of old data, and compaction.

North rule: "Continuous aggregates are materialized into retention
tiers (raw -> 1m -> 1h -> 1d)". Retention = each tier keeps a bounded
trailing window of event time; finer tiers expire sooner (raw keeps
days, 1m keeps weeks, 1d keeps forever). With an Iceberg catalog this
is ``expire_snapshots`` + partition-predicate deletes; on the parquet
fallback layout it is directory-level deletion of expired date
partitions (``event_date=`` of the fact table, ``window_date=`` of a
refreshed tier table, as ``sources.catalog`` lays them out) — the same
O(partitions) metadata operation, no data rewrite.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, timedelta

from gmql_spark.sources import catalog

DEFAULT_POLICY = {"raw": 30, "1m": 90, "1h": 365, "1d": None}  # days to keep


def expire_partitions(
    table_path: str,
    keep_days: int | None,
    as_of: date | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete the date partitions (``catalog.date_leaves``) older than
    the horizon. Returns the list of expired partition paths. A table
    without a date level (``run_pipeline``'s ``bucket=`` tiers, a fact
    table written with ``partition_days=False``) raises ValueError
    unless ``keep_days`` is None."""
    if keep_days is None:
        return []
    horizon = str((as_of or date.today()) - timedelta(days=keep_days))
    expired = sorted(
        d for d, day in catalog.date_leaves(table_path).items() if day < horizon
    )
    if not dry_run:
        for d in expired:
            shutil.rmtree(d)
    return expired


def apply_retention(
    warehouse: str,
    policy: dict | None = None,
    as_of: date | None = None,
    dry_run: bool = False,
) -> dict[str, list[str]]:
    """Apply a per-tier retention policy over a warehouse directory
    (``<warehouse>/transcripts`` for raw, the tier tables under it)."""
    policy = policy or DEFAULT_POLICY
    out = {}
    for tier, keep in policy.items():
        path = (
            os.path.join(warehouse, "transcripts")
            if tier == "raw"
            else catalog.tier_table(warehouse, tier)
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
    parquet-layout fallback: the leaves under a ``partition_col`` dir
    (of ``partitions``, every value when None) with more than
    ``min_files`` files, in one staged write (``catalog.compact``).
    Returns {partition value: files_before} for a table with one
    partition level, {leaf relative to the table: files_before} for a
    deeper one (one date may have a leaf in every bucket)."""
    done = catalog.compact(spark, table_path, min_files, **{partition_col: partitions})
    return {rel if os.sep in rel else rel.split("=", 1)[1]: n for rel, n in done.items()}


def compact_tier_tables(
    spark,
    out_dir: str,
    tiers: tuple = ("1m", "1h", "1d"),
    min_files: int = 2,
) -> dict[str, int]:
    """Compact the refreshed tier tables' date leaves like
    :func:`compact_fact_table`. Each ``refresh_tiers`` replaces its
    dates' leaves with up to ``spark.sql.shuffle.partitions`` files, so
    across many dates the scan task count grows far past one file per
    leaf. Only the file layout moves, never rows (serving is
    hash-identical pre/post in ``tests/test_skew_retention.py``).
    Returns {"<tier table>/<leaf>": files_before}."""
    out: dict[str, int] = {}
    for t in tiers:
        table = catalog.tier_table(out_dir, t)
        done = catalog.compact(spark, table, min_files, **{catalog.TIER_DATE: None})
        name = os.path.relpath(table, out_dir)
        out.update({f"{name}/{rel}": n for rel, n in done.items()})
    return out


def compact_fact_table(spark, fact_path: str, min_files: int = 2) -> dict[str, int]:
    """Compact an append-heavy fact table: every ``append_transcripts``
    batch adds a file to each (bucket, date) leaf it touches. Every
    fragmented leaf (a bucket dir in a table without days) is rewritten
    in one staged write (``catalog.compact``). Returns
    {"conv_bucket=N/event_date=D": files_before}."""
    return catalog.compact(spark, fact_path, min_files, conv_bucket=None)
