"""Streaming ingest into the continuous-aggregate tiers.

The production "new transcripts arrive continuously" loop, composing the
two exactness-carrying pieces the engine already has:

    readStream → foreachBatch( incremental.append_transcripts
                               → incremental.refresh_tiers )

Each micro-batch lands in the bucketed fact table with cross-batch-exact
``gap_us`` (the per-conversation state table carries last_ts between
batches), then ONLY the tier partitions of the dates the batch touched
are recomputed (one staged write, then a leaf swap per date). After any
prefix of batches, the tier tables equal a one-shot batch rollup of
everything ingested so far — the same bit-exact contract
``incremental`` proves for manual appends, now driven by Structured
Streaming's checkpointed source tracking (restart-safe: a re-delivered
batch is detected by the append's INTENT protocol rather than silently
double-ingested).

Ordering contract (inherited from ``append_transcripts``): batches must
arrive per-conversation time-ordered — the natural transcript ingest
order (a conversation's turns are produced monotonically). Out-of-order
backfills go through the batch rebuild path. Note this does NOT imply
global time order across conversations: a batch may land rows below the
previous refresh's max event ts (a new or lagging conversation), which
is why realtime serving clamps its watermark by the pending appends'
min ts (``incremental.pending_append_min_us``) rather than trusting
the refresh-time max alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from gmql_spark.incremental import append_transcripts, refresh_tiers
from gmql_spark.sources.catalog import N_BUCKETS_DEFAULT


def stream_ingest(
    stream: DataFrame,
    fact_path: str,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    tiers=("1m", "1h", "1d"),
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start the ingest query. ``trigger`` defaults to
    ``{"availableNow": True}`` (drain-and-stop); pass e.g.
    ``{"processingTime": "1 minute"}`` for a resident ingester."""

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        # an empty micro-batch touches no date: the append commits nothing
        dates = append_transcripts(batch.sparkSession, batch, fact_path, n_buckets=n_buckets)
        if dates:
            refresh_tiers(batch.sparkSession, fact_path, out_dir, dates, tiers=tiers)

    writer = stream.writeStream.foreachBatch(_ingest).option(
        "checkpointLocation", checkpoint_dir
    )
    return writer.trigger(**(trigger or {"availableNow": True})).start()
