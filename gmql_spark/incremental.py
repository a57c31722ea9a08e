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
   partitioned by the same ``conv_bucket = pmod(xxhash64(conv_id), n)``
   as the fact table), so the first turn of a conv in the new batch gets
   the same gap a full-data window would compute. Requires
   per-conversation time-ordered appends (the natural transcript ingest
   order); out-of-order appends must go through a batch rebuild.

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
   refresh reads the pruned raw dates (PartitionFilters) and
   dynamic-partition-overwrites exactly those tier dates.

Crash safety: state versions are immutable directories
(``_conv_state/v_000001``, ...) selected by a tiny ``CURRENT`` pointer
file that is swapped with an atomic ``os.replace``; an ``INTENT`` marker
brackets the non-atomic fact append + pointer swap, so a crash in the
middle is detected loudly on the next append (stale state can never be
used silently) instead of producing wrong cross-batch gaps.

Exactness contract (tested): append in K batches + refresh after each
== one-shot rollup of the concatenation, bit-for-bit, per tier.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gmql_spark.sources.catalog import N_BUCKETS_DEFAULT, write_transcripts

STATE_DIR = "_conv_state"
APPEND_LOG = "_append_log.jsonl"


def _state_root(fact_path: str) -> str:
    # leading "_" => invisible to Spark's parquet reader of fact_path
    return f"{fact_path}/{STATE_DIR}"


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
    path = f"{_state_root(fact_path)}/{APPEND_LOG}"
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
    treated as always pending — the global covered_version cannot
    certify per-date coverage, so the fallback over-clamps rather than
    trusting it.

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
        if dates is None:
            # legacy entry without touched dates: the global
            # covered_version cannot certify PER-DATE coverage (a
            # partial refresh advances it past appends it didn't
            # cover), so treat the entry as always pending — the sound,
            # over-clamp-only fallback
            reflected = False
        else:
            reflected = all(
                d in cov_dates and cov_dates[d] >= e["version"] for d in dates
            )
        if not reflected:
            mins.append(e["min_us"])
    return min(mins) if mins else None


def read_conv_state(spark: SparkSession, fact_path: str) -> DataFrame | None:
    """Current per-conversation state (conv_id, last_us, conv_bucket),
    or None before the first append."""
    root = _state_root(fact_path)
    v = _current_version(root)
    if v is None:
        return None
    return spark.read.parquet(f"{root}/{v}")


def _with_cross_batch_gaps(
    batch: DataFrame,
    state: DataFrame | None,
    key: str,
    ts: str,
    order: Sequence[str],
) -> DataFrame:
    """gap_us = intra-batch lag, falling back to the state table's
    last_us for each conversation's first batch row.

    No broadcast hint on the state side: at warehouse scale the state
    table (one row per conversation ever ingested) does not fit in
    driver/executor memory; AQE still broadcasts it while it's small.
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order])
    us = F.unix_micros(F.col(ts))
    batch = batch.withColumn("_gap_intra", us - F.lag(us).over(w))
    if state is not None:
        prev = state.select(key, F.col("last_us").alias("_prev_us"))
        batch = batch.join(prev, on=key, how="left")
    else:
        batch = batch.withColumn("_prev_us", F.lit(None).cast("long"))
    return batch.withColumn(
        "gap_us",
        F.coalesce(F.col("_gap_intra"), us - F.col("_prev_us")),
    ).drop("_gap_intra", "_prev_us")


def append_transcripts(
    spark: SparkSession,
    new_df: DataFrame,
    fact_path: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    key: str = "conv_id",
    ts: str = "ts",
    order: Sequence[str] = ("turn_idx",),
) -> list:
    """Append a batch with cross-batch-exact ``gap_us``; returns the
    list of event dates the batch touched (the refresh targets).

    The intra-batch gap is the usual per-conv lag; each conv's FIRST
    batch row takes its gap from the state table's last_us (null if the
    conv is new). State update = merge of old state with the batch's
    per-conv max — one small-table write, no raw scan.

    Write protocol (crash-detectable, see module docstring):
      1. refuse if a previous append left an INTENT marker;
      2. write the merged state as a NEW immutable version dir (orphan
         on failure — harmless, CURRENT still points at the old one);
      3. write INTENT; 4. append the fact rows; 5. atomically swap
         CURRENT to the new version (os.replace); 6. clear INTENT.
    """
    root = _state_root(fact_path)
    os.makedirs(root, exist_ok=True)
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
    state = read_conv_state(spark, fact_path)
    if state is None and os.path.exists(fact_path):
        if any(e.startswith("conv_bucket=") for e in os.listdir(fact_path)):
            raise RuntimeError(
                f"fact table at {fact_path} is non-empty but has no conv "
                "state — it was not built by append_transcripts; appends "
                "would compute wrong cross-batch gaps"
            )

    bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    if state is not None:
        # prune the state read to the buckets this batch touches
        # (O(n_buckets) driver values, same bookkeeping class as checkpoint)
        touched = [
            r.b for r in new_df.select(bucket.alias("b")).distinct().collect()
        ]
        if len(touched) < n_buckets:
            state = state.filter(F.col("conv_bucket").isin(touched))
        # enforce the ordered-append contract LOUDLY: a batch row at or
        # before a conversation's recorded last_us would get a wrong
        # (negative/garbage) cross-batch gap — the one-shot equivalence
        # silently breaks. Late data must go through a rebuild instead.
        # Cost: one tiny agg over the batch joined to pruned state.
        late = (
            new_df.groupBy(key)
            .agg(F.min(F.unix_micros(F.col(ts))).alias("_min_us"))
            .join(state.select(key, "last_us"), on=key, how="inner")
            .filter(F.col("_min_us") <= F.col("last_us"))
        )
        n_late = late.count()
        if n_late:
            sample = [r[key] for r in late.select(key).limit(5).collect()]
            raise RuntimeError(
                f"append to {fact_path} violates the per-conversation "
                f"time-ordered contract: {n_late} conversation(s) have batch "
                f"rows at/before their recorded last timestamp (e.g. "
                f"{sample}); cross-batch gap_us would be wrong. Rebuild the "
                "affected conversations (or the table) instead of appending."
            )
    batch = _with_cross_batch_gaps(new_df, state, key, ts, order)

    # 2. new immutable state version (conv_id -> max last_us), bucketed
    us = F.unix_micros(F.col(ts))
    lo_hi = new_df.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    batch_state = new_df.groupBy(key).agg(F.max(us).alias("last_us"))
    merged = (
        read_conv_state(spark, fact_path)  # unpruned
        .select(key, "last_us")
        .unionByName(batch_state)
        .groupBy(key)
        .agg(F.max("last_us").alias("last_us"))
        if cur is not None
        else batch_state
    )
    next_v = f"v_{(int(cur[2:]) if cur else 0) + 1:06d}"
    merged.withColumn("conv_bucket", bucket).write.mode("overwrite").partitionBy(
        "conv_bucket"
    ).parquet(f"{root}/{next_v}")

    touched_dates = [
        r.d for r in batch.select(F.to_date(ts).alias("d")).distinct().collect()
    ]

    # 3-6. INTENT-bracketed fact append + atomic pointer swap
    with open(_intent_file(root), "w") as f:
        json.dump({"version": next_v, "prev": cur}, f)
    write_transcripts(
        batch, fact_path, n_buckets=n_buckets, key=key, ts=ts, mode="append"
    )
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
                    "min_us": int(lo_hi.lo) if lo_hi.lo is not None else None,
                    "max_us": int(lo_hi.hi) if lo_hi.hi is not None else None,
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
    key: str = "conv_id",
    ts: str = "ts",
    with_sketches: bool | str | None = None,
) -> dict:
    """Recompute the tier rows of ``dates`` only (partition-pruned raw
    read + dynamic partition overwrite of the matching tier dates).

    Every window of every tier lies inside one UTC date, and the stored
    ``gap_us`` makes each window's stats independent of other dates —
    so per-date recompute is exact. ``with_sketches=True`` maintains the
    mergeable sketch columns too: the finest tier computes them from
    raw and the cascade carries them up automatically (they are
    mergeable AND per-date independent — same argument). The DEFAULT
    (``None``) adopts the existing tier tables' mode — a refresh driven
    by a caller that doesn't know about sketches (GSL, stream_ingest)
    must not dynamic-partition-overwrite sketch-carrying tables with
    sketch-less partitions (mixed parquet schemas read back
    nondeterministically); an EXPLICIT value that contradicts the
    existing tables raises instead."""
    from gmql_spark.checkpoint import _parquet_stats
    from gmql_spark.operators.rollup import (
        DEFAULT_ROLES,
        _build_tier,
        with_gap_seconds,
    )
    from gmql_spark.realtime import record_refresh_watermark

    existing_modes = {}
    for tier in tiers:
        path = f"{out_dir}/rollup_{tier}"
        if os.path.exists(path):
            try:
                cols = spark.read.parquet(path).columns
                existing_modes[tier] = (
                    "digest" if "lat_digest" in cols else "lat_hist" in cols
                )
            except Exception:
                pass  # unreadable/empty dir: treat as absent
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
    covered = _current_version(_state_root(fact_path))
    dates = sorted({str(d) for d in dates})
    raw = (
        spark.read.parquet(fact_path)
        .filter(F.col("event_date").isin(dates))  # PartitionFilters prune
        .drop("conv_bucket", "event_date")
    )
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # raw carries the stored gap_us, so with_gap_seconds only derives
    # gap_s — no raw-scale window shuffle
    raw_g = with_gap_seconds(raw, key=key, ts=ts)
    stats = {}
    try:
        prev_df = None
        for i, tier in enumerate(tiers):
            path = f"{out_dir}/rollup_{tier}"
            df = _build_tier(
                raw_g, prev_df, tier, key=key, ts=ts, role_values=DEFAULT_ROLES,
                tool_values=None, with_sketches=with_sketches,
            )
            out = df.withColumn("window_date", F.to_date("window_start"))
            out.write.mode("overwrite").partitionBy("window_date").parquet(path)
            # rows of the refreshed dates from the parquet footers — no job
            stats[tier] = sum(
                _parquet_stats(f"{path}/window_date={d}")[0] for d in dates
            )
            if with_sketches and i + 1 < len(tiers):
                # the next tier cascades its sketch columns from this one
                prev_df = (
                    spark.read.parquet(path)
                    .filter(F.col("window_date").isin(dates))
                    .drop("window_date")
                )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    # realtime watermark: the refreshed dates now reflect every raw row
    # up to the max refreshed event ts. Appends are only per-conversation
    # ordered, so a LATER append may still land rows below this value —
    # that's why the covered state version is recorded alongside it and
    # realtime_rollup clamps the serving watermark by the min event ts of
    # any append past ``covered`` (pending_append_min_us).
    wm_row = raw.agg(F.max(F.unix_micros(F.col(ts))).alias("wm")).collect()[0]
    watermark_us = None
    if wm_row.wm is not None:
        watermark_us = record_refresh_watermark(
            out_dir,
            int(wm_row.wm),
            covered_version=covered,
            # per-DATE coverage: these dates now reflect every fact row
            # up to state version `covered`; an append is only fully
            # reflected once ALL its touched dates carry a version >=
            # its own (pending_append_min_us) — a partial-date refresh
            # must not clear the clamp for appends it didn't cover
            covered_dates={d: covered for d in dates} if covered else None,
        )
    return {"dates": dates, "rows": stats, "watermark_us": watermark_us}
