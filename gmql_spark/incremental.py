"""Incremental continuous-aggregate maintenance: append + targeted
tier refresh instead of full rebuilds.

North-rule: "continuous aggregates are materialized into retention
tiers". The batch path (``operators.rollup`` / ``checkpoint``) rebuilds
tiers from raw; at warehouse scale new transcript turns arrive
continuously and a rebuild re-scans everything. This module maintains
the tiers incrementally and EXACTLY:

1. ``append_transcripts`` lands a new batch into the bucketed fact
   table with the ingest-time ``gap_us`` column kept correct across
   batches: each conversation's previous last timestamp is read from a
   compact per-conversation state table (one row per conv — ≪ raw,
   bucketed like the fact table), so the first turn of a conv in the
   new batch gets the same gap a full-data window would compute. Requires
   per-conversation time-ordered appends (the natural transcript ingest
   order); out-of-order appends must go through a batch rebuild.

   The batch is evaluated once: its gapped rows are written into the
   append staging dir, with the count of rows that break the ordering
   contract observed on that write. The new state version is merged
   from the staged rows, and the staged files are then moved into their
   fact leaves. One bookkeeping aggregate before the write (touched
   buckets, event-time range, touched dates) is the only other pass
   over the batch; a batch without rows stops there and commits nothing.

   Scale notes: the state table is O(total conversations ever seen) —
   at warehouse scale far too big to broadcast, so the state join is a
   plain equi-join (AQE picks broadcast only while the state actually
   fits) and the state read is partition-pruned to the conv_buckets the
   batch touches.

2. ``refresh_tiers`` recomputes ONLY the tier rows of the window-dates
   the new batch touched: tier tables are partitioned by
   ``window_date = to_date(window_start)``; 1m/1h/1d windows never cross
   a UTC date, and with ``gap_us`` stored in the fact table every tier
   row of date D depends only on raw rows of event_date D — so the
   refresh reads only those dates' fact leaves, writes every tier of
   those dates once, sketch columns included, into the refresh staging
   dir, and swaps each staged date leaf into its tier table. Only dates
   that have rows are replaced; a tier leaf of any other date is left
   as it is. Every table is read and replaced through
   ``sources.catalog``.

Crash safety: state versions are immutable directories
(``_conv_state/v_000001``, ...) selected by a tiny ``CURRENT`` pointer
file that is swapped with an atomic ``os.replace``; an ``INTENT`` marker
brackets the non-atomic move of the staged files into the fact table +
pointer swap, so a crash in the middle is detected loudly on the next
append (stale state can never be used silently) instead of producing
wrong cross-batch gaps. A crash before the marker leaves at most a
stale staging directory and an unreferenced state version, both
replaced by the next append, with the fact table untouched. A reader
sees a tier leaf's old or new version, never a half-written one
(``catalog.swap_leaf``); the refresh manifest is written after the last
swap, so a refresh that crashed is repaired by rerunning it.

Exactness contract (tested): append in K batches + refresh after each
== one-shot rollup of the concatenation, bit-for-bit, per tier.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gmql_spark.checkpoint import _observed
from gmql_spark.sources import catalog
from gmql_spark.sources.catalog import FACT_KEY, FACT_ORDER, FACT_TS, N_BUCKETS_DEFAULT

APPEND_LOG = "_append_log.jsonl"


def _current_file(root: str) -> str:
    return f"{root}/CURRENT"


def _intent_file(root: str) -> str:
    return f"{root}/INTENT"


def _read_pointer(root: str) -> dict | None:
    """CURRENT pointer contents: {"version": ..., "n_buckets": ...}.
    (Legacy plain-version-string files are parsed for compatibility.)"""
    cur = _current_file(root)
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        raw = f.read().strip()
    if not raw:
        return None
    if raw.startswith("{"):
        return json.loads(raw)
    return {"version": raw, "n_buckets": None}


def _current_version(root: str) -> str | None:
    ptr = _read_pointer(root)
    return ptr["version"] if ptr else None


def read_append_log(fact_path: str) -> list[dict]:
    """The per-append manifest: one line per append with {"version",
    "min_us", "max_us", "dates"} of the batch's event times / touched
    event dates. O(dates) bytes per append; this is what makes a SOUND
    realtime watermark possible without forcing globally time-ordered
    ingest (see ``pending_append_min_us``). The line is written BEFORE
    the CURRENT pointer swap: a crash in between leaves an entry for an
    uncommitted version, which can only over-clamp (and the INTENT
    marker flags the crash for the next append anyway) — the reverse
    order would leave a committed append invisible to the clamp."""
    path = f"{catalog.state_root(fact_path)}/{APPEND_LOG}"
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pending_append_min_us(fact_path: str, manifest: dict | None) -> int | None:
    """Min event ts (µs) over appends NOT fully reflected in the tiers
    per the refresh ``manifest`` (``realtime.read_refresh_manifest``).
    Returns None when nothing is pending.

    An append is reflected iff EVERY event date it touched was refreshed
    at a fact-state version >= the append's version
    (``covered_dates``: date -> state version at that date's last
    refresh). A partial refresh — ``refresh_tiers(dates=[D1])`` while a
    pending append also touched D2 — therefore keeps the append pending
    and the clamp in force; advancing a single global covered version
    there would silently drop the D2 rows from realtime serving.
    Entries predating the per-date record (no "dates" field) are
    treated as always pending: the sound, over-clamp-only fallback.

    Soundness: append_transcripts only guarantees PER-CONVERSATION
    ordering, so a new or lagging conversation may land rows below the
    refresh-time global max ts. Every un-reflected row's ts is >= this
    value by construction, so clamping the serving watermark to it
    restores the realtime contract (every un-reflected raw row has
    ts >= frozen_until) without constraining ingest order."""
    manifest = manifest or {}
    cov_dates = manifest.get("covered_dates") or {}
    mins = []
    for e in read_append_log(fact_path):
        if e.get("min_us") is None:
            continue
        dates = e.get("dates")
        reflected = dates is not None and all(
            d in cov_dates and cov_dates[d] >= e["version"] for d in dates
        )
        if not reflected:
            mins.append(e["min_us"])
    return min(mins) if mins else None


def read_conv_state(spark: SparkSession, fact_path: str) -> DataFrame | None:
    """Current per-conversation state (conv_id, last_us, conv_bucket),
    or None before the first append. Opened through
    ``catalog.read_table``: no schema-inference job."""
    root = catalog.state_root(fact_path)
    v = _current_version(root)
    if v is None:
        return None
    return catalog.read_table(spark, f"{root}/{v}")


def _with_cross_batch_gaps(batch: DataFrame, state: DataFrame | None) -> DataFrame:
    """gap_us = intra-batch lag, falling back to the state table's
    last_us for each conversation's first batch row; ``_late`` flags a
    row at or before its conversation's recorded last_us (the
    ordered-append contract's violation; null where either is null).

    No broadcast hint on the state side: at warehouse scale the state
    table (one row per conversation ever ingested) does not fit in
    driver/executor memory; AQE still broadcasts it while it's small.
    """
    w = Window.partitionBy(FACT_KEY).orderBy(F.col(FACT_ORDER))
    us = F.unix_micros(F.col(FACT_TS))
    batch = batch.withColumn("_gap_intra", us - F.lag(us).over(w))
    if state is not None:
        prev = state.select(FACT_KEY, F.col("last_us").alias("_prev_us"))
        batch = batch.join(prev, on=FACT_KEY, how="left")
    else:
        batch = batch.withColumn("_prev_us", F.lit(None).cast("long"))
    return batch.withColumns(
        {
            "gap_us": F.coalesce(F.col("_gap_intra"), us - F.col("_prev_us")),
            "_late": us <= F.col("_prev_us"),
        }
    ).drop("_gap_intra", "_prev_us")


def append_transcripts(
    spark: SparkSession,
    new_df: DataFrame,
    fact_path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> list:
    """Append a batch with cross-batch-exact ``gap_us``; returns the
    sorted list of event dates the batch touched (the refresh targets),
    with a trailing None when a batch row has a null ``ts``. A batch
    without rows commits nothing and returns ``[]``.

    The intra-batch gap is the usual per-conv lag; each conv's FIRST
    batch row takes its gap from the state table's last_us (null if the
    conv is new). The batch is evaluated once, by one staged write; the
    state update merges the old state with the staged rows' per-conv
    max ts — one small-table write, no raw scan.

    Write protocol (crash-detectable, see module docstring):
      1. refuse if a previous append left an INTENT marker;
      2. write the gapped batch into the append staging dir (hidden
         from readers), counting its late rows on
         the way; if any, delete the staging and refuse the batch. A
         crash here leaves a stale staging that the next append
         overwrites;
      3. write the merged state as a NEW immutable version dir (orphan
         on failure — harmless, CURRENT still points at the old one);
      4. write INTENT; 5. move the staged files into their
         fact leaves; 6. append the log line;
         7. atomically swap CURRENT to the new version (os.replace);
         8. clear INTENT. A crash between 4 and 8 leaves the marker,
         and the next append refuses to run.
    """
    root = catalog.state_root(fact_path)
    if os.path.exists(_intent_file(root)):
        raise RuntimeError(
            f"previous append to {fact_path} did not complete (INTENT marker "
            f"present at {_intent_file(root)}); the fact table and conv state "
            "may disagree — rebuild the table (or restore the marker's "
            "pre-append state) before appending again"
        )
    ptr = _read_pointer(root)
    cur = ptr["version"] if ptr else None
    if ptr is not None and ptr.get("n_buckets") not in (None, n_buckets):
        raise ValueError(
            f"append to {fact_path} with n_buckets={n_buckets} but the table "
            f"was built with n_buckets={ptr['n_buckets']}: touched-bucket "
            "pruning and the fact layout would silently disagree with the "
            "state table's conv_bucket. Pass the original n_buckets (or "
            "rebuild the table to re-bucket)."
        )
    # the state is opened once; the gap join reads it pruned, the merge
    # below reads all of it
    state = read_conv_state(spark, fact_path)
    touched_state = state
    if state is None and catalog.fact_buckets(fact_path):
        raise RuntimeError(
            f"fact table at {fact_path} is non-empty but has no conv "
            "state — it was not built by append_transcripts; appends "
            "would compute wrong cross-batch gaps"
        )

    bucket = catalog.bucket_of(n_buckets)
    us = F.unix_micros(F.col(FACT_TS))
    # the batch's bookkeeping values in one aggregate: row count (an
    # empty batch stops here), touched buckets (state pruning;
    # O(n_buckets) values, same class as checkpoint), event-time range
    # and touched dates (append-log line). collect_set drops nulls, so a
    # null ts is flagged on its own.
    meta = new_df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.collect_set(bucket).alias("buckets"),
        F.min(us).alias("lo"),
        F.max(us).alias("hi"),
        F.collect_set(F.to_date(FACT_TS)).alias("dates"),
        F.bool_or(F.col(FACT_TS).isNull()).alias("null_ts"),
    ).collect()[0]
    if not meta.rows:
        return []
    touched_dates = sorted(meta.dates) + ([None] if meta.null_ts else [])
    if state is not None and len(meta.buckets) < n_buckets:
        # prune the state read to the buckets this batch touches
        touched_state = state.filter(F.col("conv_bucket").isin(meta.buckets))

    # 2. the one evaluation of the batch: a staged write of its gapped
    # rows. The ordered-append contract is enforced LOUDLY on the way: a
    # row at or before its conversation's recorded last_us would get a
    # wrong (negative/garbage) cross-batch gap and silently break the
    # one-shot equivalence, so its count rides the write; late data must
    # go through a rebuild instead.
    stage = f"{fact_path}/{catalog.APPEND_STAGING}"
    batch = _with_cross_batch_gaps(new_df, touched_state)
    late = Observation()
    catalog.write_transcripts(
        batch.observe(late, F.count_if("_late").alias("n")).drop("_late"), stage, n_buckets
    )
    if _observed(late).get("n"):
        shutil.rmtree(stage)
        late_convs = batch.filter("_late").select(FACT_KEY).distinct()
        n_late = late_convs.count()
        sample = [r[FACT_KEY] for r in late_convs.limit(5).collect()]
        raise RuntimeError(
            f"append to {fact_path} violates the per-conversation "
            f"time-ordered contract: {n_late} conversation(s) have batch "
            f"rows at/before their recorded last timestamp (e.g. "
            f"{sample}); cross-batch gap_us would be wrong. Rebuild the "
            "affected conversations (or the table) instead of appending."
        )

    # 3. new immutable state version (conv_id -> max last_us), bucketed:
    # the old state and the staged rows in one group-by
    last = catalog.read_fact_leaves(spark, stage).select(FACT_KEY, us.alias("last_us"))
    if state is not None:
        last = state.select(FACT_KEY, "last_us").unionByName(last)
    next_v = f"v_{(int(cur[2:]) if cur else 0) + 1:06d}"
    last.groupBy(FACT_KEY).agg(F.max("last_us").alias("last_us")).withColumn(
        "conv_bucket", bucket
    ).write.mode("overwrite").partitionBy("conv_bucket").parquet(f"{root}/{next_v}")

    # 4-8. INTENT-bracketed move of the staged files + atomic pointer swap
    with open(_intent_file(root), "w") as f:
        json.dump({"version": next_v, "prev": cur}, f)
    catalog.move_files(stage, fact_path)
    shutil.rmtree(stage)
    # per-append manifest line BEFORE the pointer swap: a crash between
    # them leaves an entry for an uncommitted version (harmless — the
    # realtime clamp can only over-clamp, and INTENT flags the crash);
    # the reverse order would leave a COMMITTED append invisible to
    # pending_append_min_us — the unsound case
    with open(f"{root}/{APPEND_LOG}", "a") as f:
        f.write(
            json.dumps(
                {
                    "version": next_v,
                    "min_us": int(meta.lo) if meta.lo is not None else None,
                    "max_us": int(meta.hi) if meta.hi is not None else None,
                    "dates": sorted(str(d) for d in touched_dates),
                }
            )
            + "\n"
        )
    ptr_tmp = _current_file(root) + ".tmp"
    with open(ptr_tmp, "w") as f:
        json.dump({"version": next_v, "n_buckets": n_buckets}, f)
    os.replace(ptr_tmp, _current_file(root))
    os.remove(_intent_file(root))
    if cur is not None:  # old version no longer referenced
        shutil.rmtree(f"{root}/{cur}", ignore_errors=True)

    return touched_dates


def refresh_tiers(
    spark: SparkSession,
    fact_path: str,
    out_dir: str,
    dates: Sequence,
    tiers: Sequence[str] = ("1m", "1h", "1d"),
    with_sketches: bool | str | None = None,
) -> dict:
    """Recompute the tier rows of ``dates`` only: a read of those
    dates' fact leaves, one staged write of every tier of those dates,
    and a swap of each staged ``window_date`` leaf into its tier table
    (module docstring). A date without fact rows stages no leaf, so its
    tier leaves are neither created nor deleted.

    Every window of every tier lies inside one UTC date, and the stored
    ``gap_us`` makes each window's stats independent of other dates —
    so per-date recompute is exact. ``with_sketches=True`` maintains the
    mergeable sketch columns too: every tier builds them from raw in the
    same plan, and a coarser tier's digests merge the finer tier's
    (per-date independent too — same argument); every sketch mode is
    one staged write. The DEFAULT (``None``) adopts the existing tier
    tables' mode — a refresh driven by a caller that doesn't know about
    sketches (GSL, stream_ingest) must not replace date leaves of
    sketch-carrying tables with sketch-less ones (mixed parquet schemas
    read back nondeterministically); an EXPLICIT value that contradicts
    the existing tables raises instead; so does, before any write, a fact
    table without the stored ``gap_us`` or the ``event_date`` level."""
    from gmql_spark.operators.rollup import (
        DEFAULT_ROLES,
        _build_tiers,
        with_gap_seconds,
    )
    from gmql_spark.realtime import record_refresh_watermark

    fact_cols = catalog.columns(fact_path) or ()
    missing = [c for c in ("gap_us", "event_date") if c not in fact_cols]
    if missing:
        raise ValueError(
            f"cannot refresh tiers from {fact_path}: no fact table there, or one "
            f"without {' and '.join(missing)} (append_transcripts writes both)"
        )
    existing_modes = {
        tier: mode for tier in tiers
        if (mode := catalog.sketch_mode(catalog.tier_table(out_dir, tier))) is not None
    }
    if len(set(existing_modes.values())) > 1:
        raise ValueError(
            f"tier tables under {out_dir} disagree on sketch columns "
            f"({existing_modes}); rebuild them consistently before refreshing"
        )
    existing = next(iter(set(existing_modes.values())), None)
    if with_sketches is None:
        # adopt verbatim: "digest" must stay "digest", not collapse to True
        with_sketches = existing if existing is not None else False
    elif existing is not None and existing != with_sketches:
        raise ValueError(
            f"refresh with with_sketches={with_sketches} but the existing tier "
            f"tables under {out_dir} were built with "
            f"with_sketches={existing}: a partial overwrite would mix parquet "
            "schemas across partitions. Pass the matching value or rebuild."
        )

    # the state version this refresh covers: any append committed after
    # this point is "pending" for realtime-serving purposes (its batch
    # min ts clamps the effective watermark — see pending_append_min_us)
    covered = _current_version(catalog.state_root(fact_path))
    dates = sorted({str(d) for d in dates})
    # only the refreshed dates' leaves are listed and read, with the
    # table's footer schema: no schema-inference job
    raw = catalog.read_fact_leaves(spark, fact_path, dates=dates)
    # raw carries the stored gap_us, so with_gap_seconds only derives
    # gap_s — no raw-scale window shuffle
    raw_g = with_gap_seconds(raw)
    stage = f"{out_dir}/{catalog.REFRESH_STAGING}"
    # staging left behind by a crash belongs to an unfinished refresh
    shutil.rmtree(stage, ignore_errors=True)

    # the watermark rides the write: max(last_ts) over the finest tier's
    # rows (over every tier's, the same value) is max(ts) over the
    # refreshed raw rows
    wm = Observation()
    tiers_df = _build_tiers(
        raw_g, None, tiers, key=FACT_KEY, ts=FACT_TS, role_values=DEFAULT_ROLES,
        tool_values=None, with_sketches=with_sketches,
    ).observe(wm, F.max(F.unix_micros("last_ts")).alias("wm"))
    date_col = catalog.TIER_DATE
    tiers_df.withColumn(date_col, F.to_date("window_start")).write.partitionBy(
        "tier", date_col
    ).parquet(stage)
    stats = {}
    for tier in tiers:
        table = catalog.tier_table(out_dir, tier)
        catalog.swap_leaves(catalog.leaf(stage, tier=tier), table)
        # rows of the refreshed dates from the parquet footers — no job
        stats[tier] = sum(
            catalog.footer_stats(catalog.leaf(table, **{date_col: d}))[0]
            for d in dates
        )
    shutil.rmtree(stage)
    # realtime watermark: the refreshed dates now reflect every raw row
    # up to the max refreshed event ts. Appends are only per-conversation
    # ordered, so a LATER append may still land rows below this value —
    # that's why the covered state version is recorded alongside it and
    # realtime_rollup clamps the serving watermark by the min event ts of
    # any append past ``covered`` (pending_append_min_us).
    wm_us = _observed(wm).get("wm")
    watermark_us = None
    if wm_us is not None:
        watermark_us = record_refresh_watermark(
            out_dir,
            int(wm_us),
            # per-DATE coverage: these dates now reflect every fact row
            # up to state version `covered`; an append is only fully
            # reflected once ALL its touched dates carry a version >=
            # its own (pending_append_min_us) — a partial-date refresh
            # must not clear the clamp for appends it didn't cover
            covered_dates={d: covered for d in dates} if covered else None,
        )
    return {"dates": dates, "rows": stats, "watermark_us": watermark_us}
