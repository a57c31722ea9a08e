"""Drive a real Structured Streaming run and materialize its output.

The streaming twins in ``rollup_stream`` are *builders* (stream in,
stream out); this module is the harness that actually RUNS one: stage
the source to a parquet ingest dir, ``readStream`` it back, apply
``operators.window_agg.window_rollup`` under an event-time watermark
(``rollup_stream._watermarked_rollup``: null-``ts`` rows dropped, the
same wrapper as the streaming twins), and ``foreachBatch``-append the
emitted (watermark-closed) windows to a parquet table — the
``Trigger.AvailableNow`` drain-and-stop pattern, with every emitted row
having genuinely flowed through the streaming engine's stateful
aggregation and sink.

Serving contract (the lambda split, same algebra as
``realtime.serve_realtime``): append mode only emits a window once the
watermark passes its end, so at stream end the final ~watermark-delay
of windows is withheld in state. ``run_rollup_to_table`` returns the
emitted table plus its max ``window_end`` boundary; a caller wanting
the full answer unions a batch recompute of windows PAST the boundary.
That union is exact: all staged data arrives in streaming batch 0
(single staged file, watermark still unset ⇒ nothing is ever dropped
as late), so emitted = every window whose end the final watermark
passed, and any window past the boundary that exists in the data at
all is absent from the emitted set — the two sides partition the
window axis on the boundary.

``run_rollup_multi_batch`` is the deliberately HARD variant: an
N-file, one-file-per-micro-batch drain where the watermark advances
between batches, so genuinely late rows in later files get dropped by
the engine — with the drop set a predictable pure function of the
staged data (per-batch watermark trail returned to the caller), so the
exactness accounting emitted ∪ recomputed-tail ∪ dropped = batch
answer can be asserted instead of assumed.

The reference has no streaming layer at all (spark-streaming is a
declared-but-unused dependency, GMQL-Spark/pom.xml); this is
beyond-parity surface.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmql_spark.streaming.rollup_stream import _watermarked_rollup


def _run_drain(
    spark: SparkSession,
    stream: DataFrame,
    duration: str,
    aggs: Sequence[Column],
    keys: Sequence[str],
    ts: str,
    watermark: str,
    out_dir: str,
    ckpt_dir: str,
    timeout_s: float,
):
    """Shared drain core: availableNow stateful agg → foreachBatch
    parquet sink → (emitted frame, boundary, finished query)."""
    agg = _watermarked_rollup(stream, duration, aggs, keys, ts, watermark)
    out_schema = agg.schema
    q = (
        agg.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(
            # scratch sink: snappy beats the session's zstd default on
            # write wall and the table is re-read once then discarded
            lambda b, _id: b.write.mode("append")
            .option("compression", "snappy")
            .parquet(out_dir)
        )
        .start()
    )
    q.awaitTermination(int(timeout_s))
    if q.isActive:  # pragma: no cover - drain overran the budget
        q.stop()
        raise TimeoutError(f"availableNow drain exceeded {timeout_s}s")
    emitted = spark.read.schema(out_schema).parquet(out_dir)
    boundary = emitted.agg(F.max("window_end")).first()[0]
    return emitted, boundary, q


def watermark_trail(query, n_batches: int) -> list:
    """Event-time watermark at the START of batches 0..n_batches−1,
    from the finished query's progress, as naive UTC datetimes (epoch
    where unset). Entries are aligned by ``batchId`` — batch k of a
    ``maxFilesPerTrigger=1`` drain is staged file k, even if a file is
    empty — so the trail cannot shift when the progress ring buffer
    (``spark.sql.streaming.numRecentProgressUpdates``, default 100)
    evicts early entries: a missing batchId raises instead of silently
    misaligning every downstream drop prediction."""
    by_id: dict[int, dict] = {}
    for prog in query.recentProgress:
        if not isinstance(prog, dict):
            prog = json.loads(prog.json if hasattr(prog, "json") else str(prog))
        by_id[int(prog["batchId"])] = prog
    missing = [k for k in range(n_batches) if k not in by_id]
    if missing:
        raise RuntimeError(
            f"watermark trail incomplete: batches {missing[:5]} evicted from "
            "the progress buffer — raise "
            "spark.sql.streaming.numRecentProgressUpdates or stage fewer files"
        )
    out = []
    for k in range(n_batches):
        wm = (by_id[k].get("eventTime") or {}).get("watermark")
        out.append(
            _dt.datetime.fromisoformat(wm.replace("Z", "+00:00")).replace(
                tzinfo=None
            )
            if wm
            else _dt.datetime(1970, 1, 1)
        )
    return out


def _wipe_scratch(work_dir: str) -> None:
    """rmtree the drain scratch dir — refusing anything that exists and
    does not look like a previous drain's layout (src/out/ckpt or
    empty), so a typo'd DATA path can never be deleted by a harness
    call. Every entry point (direct calls and the GSL STREAM statement)
    inherits the guard because it sits next to the rmtree."""
    if os.path.exists(work_dir):
        if not os.path.isdir(work_dir):
            raise ValueError(
                f"refusing to wipe {work_dir!r}: it exists and is not a "
                "directory — not a drain scratch dir"
            )
        entries = set(os.listdir(work_dir))
        if entries and not entries <= {"src", "out", "ckpt"}:
            raise ValueError(
                f"refusing to wipe {work_dir!r}: it exists and does not look "
                f"like a drain scratch dir (contains {sorted(entries)[:5]})"
            )
    shutil.rmtree(work_dir, ignore_errors=True)


def run_rollup_to_table(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    duration: str,
    aggs: Sequence[Column],
    keys: Sequence[str] = (),
    ts: str = "ts",
    watermark: str = "10 minutes",
    timeout_s: float = 600.0,
) -> tuple[DataFrame, object]:
    """Run a streaming ``window_rollup`` over ``source`` for real
    (availableNow) and materialize the emitted windows.

    ``work_dir`` is wiped and reused (staged ingest files + checkpoint +
    output table — a scratch dir, never a data dir). The source is
    staged as a handful of files ingested in ONE micro-batch (no
    ``maxFilesPerTrigger``, so availableNow takes every staged file in
    batch 0 — r8: multiple files parallelize the ingest scan that a
    single coalesce(1) file serialized, with the identical deterministic
    two-batch drain): batch 0 ingests everything (watermark unset ⇒ no
    late drops), the final no-data batch advances the watermark to
    ``max(ts) - watermark`` and flushes every closed window through
    ``foreachBatch`` into the parquet table.

    Returns ``(emitted, boundary)``: the emitted table (read back with
    an explicit schema, so an all-withheld run yields an empty frame,
    not an error) and its max ``window_end`` (None when empty). Windows
    with ``window_end > boundary`` are exactly the ones still in state
    — recompute those batch-side for a full answer (see module doc).
    """
    _wipe_scratch(work_dir)
    src_dir = os.path.join(work_dir, "src")
    out_dir = os.path.join(work_dir, "out")
    ckpt_dir = os.path.join(work_dir, "ckpt")
    os.makedirs(out_dir, exist_ok=True)
    # scratch staging: snappy (written once, read once); 8 files so the
    # batch-0 ingest scan has task parallelism — all of them land in the
    # same micro-batch (module doc), so the drain semantics are the ONE
    # deterministic two-batch shape regardless of file count
    source.repartition(8).write.option("compression", "snappy").parquet(src_dir)

    staged = spark.read.parquet(src_dir)
    stream = spark.readStream.schema(staged.schema).parquet(src_dir)
    emitted, boundary, _q = _run_drain(
        spark, stream, duration, aggs, keys, ts, watermark,
        out_dir, ckpt_dir, timeout_s,
    )
    return emitted, boundary


def stage_files_ordered(files: Sequence[DataFrame], src_dir: str) -> None:
    """Stage each frame as ONE parquet file with strictly increasing
    modification times, so ``FileStreamSource`` (which orders new files
    by mtime) ingests them in list order — one micro-batch per file
    under ``maxFilesPerTrigger=1``."""
    import time as _time

    now = _time.time()
    seen: set[str] = set()
    for i, f in enumerate(files):
        f.coalesce(1).write.mode("append").parquet(src_dir)
        parts = {p for p in os.listdir(src_dir) if p.endswith(".parquet")}
        new = parts - seen
        if len(new) != 1:  # RuntimeError, not assert: survives python -O
            raise RuntimeError(
                f"staged-file invariant broken: expected one new parquet "
                f"file, got {sorted(new)} — batch ordering would be wrong"
            )
        seen = parts
        t = now + 100_000 + i
        os.utime(os.path.join(src_dir, next(iter(new))), (t, t))


def run_rollup_multi_batch(
    spark: SparkSession,
    files: Sequence[DataFrame],
    work_dir: str,
    duration: str,
    aggs: Sequence[Column],
    keys: Sequence[str] = (),
    ts: str = "ts",
    watermark: str = "10 minutes",
    timeout_s: float = 600.0,
) -> tuple[DataFrame, object, list]:
    """The HARD streaming case ``run_rollup_to_table`` deliberately
    avoids: a multi-batch drain (``maxFilesPerTrigger=1``) where later
    files may carry rows whose windows the advancing watermark has
    ALREADY closed — those rows are dropped by the engine, and this
    harness makes the drop set predictable instead of silent.

    ``files`` are staged as one parquet file each, with strictly
    increasing modification times so ``FileStreamSource`` ingests them
    in list order, one micro-batch per file. The watermark reported for
    batch k is ``max(ts over batches < k) − delay``, and — verified
    empirically on this Spark version, for both windowed aggregation
    and applyInPandasWithState — the LATE-DATA FILTER of batch k uses
    the PREVIOUS batch's watermark: a row in file i is dropped iff its
    event-time predicate (window end for window aggs, ts for stateful
    ops) falls at or below ``watermark(batch i−1)``. A late row whose
    window the CURRENT batch's watermark closes still merges before
    emission. That makes the drop set a pure function of the staged
    data that the caller can compute up front (see
    ``tests/test_materialize_stream.py``, which asserts emitted ∪
    recomputed-tail over the NON-dropped rows equals the batch answer
    with the dropped set exactly accounted).

    Returns ``(emitted, boundary, watermarks)`` — the emitted table,
    its max ``window_end``, and the per-batch watermark trail
    (:func:`watermark_trail`: one entry per file, positionally aligned
    even when a staged file is empty; entry 0 is the epoch)."""
    _wipe_scratch(work_dir)
    src_dir = os.path.join(work_dir, "src")
    out_dir = os.path.join(work_dir, "out")
    ckpt_dir = os.path.join(work_dir, "ckpt")
    os.makedirs(out_dir, exist_ok=True)
    schema = files[0].schema
    stage_files_ordered(files, src_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    emitted, boundary, q = _run_drain(
        spark, stream, duration, aggs, keys, ts, watermark,
        out_dir, ckpt_dir, timeout_s,
    )
    return emitted, boundary, watermark_trail(q, len(files))
