"""spark-submit entrypoint: checkpointed, resumable tier pipeline.

    spark-submit --py-files gmql_spark.zip run_pipeline.py \
        --input <fact table dir written by write_transcripts> \
        --out /warehouse/tiers --buckets 16

Re-running after a crash skips completed buckets (manifest at
<out>/_manifest.jsonl). With --synth N it first writes a synthetic fact
table with the bucket(conv_id) x days(ts) layout.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="fact-table dir (bucketed layout)")
    ap.add_argument("--synth", type=int, default=0, help="synthesize N convs into --input first")
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiers", default="1m,1h,1d")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--fail-after", type=int, default=None, help="test hook: die after N buckets")
    ap.add_argument("--compress", action="store_true",
                    help="also write Gorilla-packed streams per tier")
    ap.add_argument("--retention", default=None,
                    help="expire the input's event dates older than N days after "
                         "the run, e.g. 'raw=30'")
    args = ap.parse_args(argv)
    policy = dict(kv.split("=") for kv in args.retention.split(",")) if args.retention else {}
    if set(policy) - {"raw"}:
        # the pipeline's tier tables are partitioned by bucket alone: no
        # date level to expire
        ap.error(f"--retention {args.retention}: only raw=<days> applies; the "
                 "pipeline's tier tables have no date partition level")

    from gmql_spark.session import get_spark

    spark = get_spark(app_name="gmql-spark-pipeline")

    from gmql_spark.checkpoint import run_pipeline
    from gmql_spark.datagen import transcripts_spark
    from gmql_spark.sources.catalog import write_transcripts

    if args.synth:
        write_transcripts(transcripts_spark(spark, n_conv=args.synth), args.input,
                          n_buckets=args.buckets)
    tiers = tuple(t.strip() for t in args.tiers.split(",") if t.strip())
    # raw_path (not a pre-read DataFrame) so each bucket job
    # partition-prunes to its conv_bucket=<b> dirs — 1/n of input per job
    stats = run_pipeline(
        spark, None, args.out, tiers=tiers, n_buckets=args.buckets,
        raw_path=args.input,
        lineage=f"input={args.input}", fail_after=args.fail_after,
        compress=args.compress,
        on_bucket_done=lambda e: print(f"bucket {e['bucket']}: rows_in={e['rows_in']} "
                                       f"watermark={e['watermark']} wall={e['wall_s']}s"),
    )
    if policy:
        from gmql_spark.retention import expire_partitions

        stats["retention_expired"] = {
            "raw": len(expire_partitions(args.input, int(policy["raw"])))
        }
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
