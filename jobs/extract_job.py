#!/usr/bin/env python
"""Production entrypoint — run the extraction pipeline via spark-submit.

Packaging (pure-Python engine, no native deps — SURVEY §4.3):

    cd /root/repo
    zip -qr engine.zip mistral_ocr_app_spark -x '*__pycache__*'
    spark-submit --py-files engine.zip jobs/extract_job.py \\
        --input  /path/to/transcripts_parquet_or_iceberg \\
        --output /path/to/output_dir \\
        --buckets 4096 \\
        [--assemble] [--chunk-size 4096] [--resume-only] [--audit]

On a cluster, --input can be an Iceberg table path; the job is resumable:
re-submission after a failure skips buckets already committed to
<output>/_lineage (see mistral_ocr_app_spark/plans/lineage.py).

The session comes from ``get_spark`` (mistral_ocr_app_spark/session.py),
like every job's: settings given to spark-submit (--master,
--driver-memory, --conf) win, and the factory's defaults fill the rest.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local/dev runs (python jobs/extract_job.py) — on a cluster the engine
# arrives via --py-files and this is a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts table/parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--buckets", type=int, default=4096,
                    help="lineage work units; size so one bucket's turns fit an executor")
    ap.add_argument("--assemble", action="store_true",
                    help="also write per-conversation assembled documents")
    ap.add_argument("--resume-only", action="store_true",
                    help="report committed/pending bucket counts and exit "
                         "without extracting anything")
    ap.add_argument("--audit", action="store_true",
                    help="run the lineage fingerprint audit on the output "
                         "and exit (nonzero when any committed bucket's "
                         "bytes no longer match their recorded fingerprint)")
    ap.add_argument("--auto-threshold", type=int, default=65_536,
                    help="assemble_auto routing: conversations above this "
                         "turn count take the chunked OOM-safe path, the "
                         "rest the flat single-exchange path (0 = flat for "
                         "all unless --chunk-size forces chunked)")
    ap.add_argument("--chunk-size", type=int, default=0,
                    help="force hierarchical assembly with this many turns per "
                         "chunk (bounds per-group memory for pathological "
                         "conversations; 0 = flat single-exchange assembly)")
    args = ap.parse_args()

    from mistral_ocr_app_spark.operators.assemble import (
        assemble_auto,
        assemble_conversations,
        assemble_conversations_chunked,
    )
    from mistral_ocr_app_spark.plans.lineage import (
        bucket_expr,
        committed_buckets,
        read_data,
        run_extraction_with_lineage,
        verify_lineage,
    )
    from mistral_ocr_app_spark.session import get_spark
    from mistral_ocr_app_spark.sources.io import read_transcripts, write_markdown_sink

    spark = get_spark(app_name="transcript_extraction")

    if args.audit:
        # one audit pass; the mismatch set has at most one row per bucket
        bad = [
            r["bucket"]
            for r in verify_lineage(spark, args.output).select("bucket").collect()
        ]
        print(json.dumps({
            "audit": True,
            "n_mismatched_buckets": len(bad),
            "buckets": bad[:100],
        }))
        spark.stop()
        return 1 if bad else 0

    if args.resume_only:
        committed = committed_buckets(spark, f"{args.output}/_lineage")
        # input bucket ids (at most --buckets of them) minus the committed
        # ones, on the driver: one lineage read, one input scan
        input_buckets = {
            r["bucket"]
            for r in read_transcripts(spark, args.input)
            .select(bucket_expr(args.buckets).alias("bucket"))
            .distinct()
            .collect()
        }
        stats = {
            "resume_only": True,
            "n_committed": len(committed),
            "n_pending_buckets": len(input_buckets - set(committed)),
        }
        print(json.dumps(stats))
        spark.stop()
        return 0

    stats = run_extraction_with_lineage(
        spark, args.input, args.output, n_buckets=args.buckets
    )
    if args.assemble:
        extracted = read_data(spark, f"{args.output}/data")
        # extracted is parquet-backed here, so assemble_auto's three
        # traversals re-scan a columnar file, not the extraction UDF
        if args.chunk_size > 0:
            assembled = assemble_conversations_chunked(
                extracted, chunk_size=args.chunk_size
            )
        elif args.auto_threshold > 0:
            assembled = assemble_auto(
                extracted, threshold_turns=args.auto_threshold
            )
        else:
            assembled = assemble_conversations(extracted)
        write_markdown_sink(assembled, f"{args.output}/assembled")
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
