#!/usr/bin/env python
"""Compaction — streamed (bucket, epoch) output → canonical batch layout.

The exactly-once streaming sink (streaming/commit.py) writes one
partition per (bucket, epoch): correct, replay-safe, but at 10¹²-turn
scale a long-running stream accumulates millions of small files — the
classic small-files problem. This job periodically rewrites a streamed
output directory into the batch pipeline's canonical bucket-partitioned
layout (plans/lineage.py), so downstream consumers and the resume logic
see exactly one table shape regardless of how the data arrived:

  1. read  <in>/data  (partitioned bucket/epoch, many small files)
  2. write <out>/data partitioned by bucket only, one coalesced
     partition dir per bucket (dynamic overwrite — idempotent re-run)
  3. recompute per-bucket lineage from the compacted bytes and CHECK it
     against the streamed lineage before committing: the bit_xor
     fingerprint is associative, so each bucket's compacted fingerprint
     must equal the XOR of its epochs' fingerprints — any loss or
     duplication during the rewrite fails the job before lineage lands.

Usage:
    spark-submit --py-files engine.zip jobs/compact_job.py \\
        --input /path/to/stream_out --output /path/to/batch_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def compact(spark: SparkSession, in_dir: str, out_dir: str) -> dict:
    from mistral_ocr_app_spark.plans.lineage import lineage_rows, read_data, read_lineage

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    data = read_data(spark, os.path.join(in_dir, "data"), keys=("bucket", "epoch"))

    # one shuffle to collapse epochs: repartition by bucket so each
    # bucket's rows land in few large files instead of one per epoch
    compacted = data.drop("epoch").repartition("bucket")
    compacted.write.partitionBy("bucket").mode("overwrite").parquet(
        os.path.join(out_dir, "data")
    )

    # recompute lineage from the compacted bytes (honest fingerprint)
    done = read_data(spark, os.path.join(out_dir, "data"))
    new_lineage = lineage_rows(done)

    # cross-check against the streamed lineage: bit_xor is associative,
    # so per bucket: xor(epoch fingerprints) == compacted fingerprint
    # and sum(epoch n_turns) == compacted n_turns
    streamed = (
        read_lineage(spark, os.path.join(in_dir, "_lineage"), keys=("bucket", "epoch"))
        .groupBy("bucket")
        .agg(
            F.expr("bit_xor(fingerprint)").alias("exp_fingerprint"),
            F.sum("n_turns").alias("exp_n_turns"),
        )
    )
    mismatch = (
        new_lineage.select("bucket", "fingerprint", "n_turns")
        .join(streamed, "bucket", "full_outer")
        .filter(
            (F.col("fingerprint").isNull())
            | (F.col("exp_fingerprint").isNull())
            | (F.col("fingerprint") != F.col("exp_fingerprint"))
            | (F.col("n_turns") != F.col("exp_n_turns"))
        )
    )
    n_bad = mismatch.count()
    if n_bad:
        raise RuntimeError(
            f"compaction fingerprint mismatch on {n_bad} bucket(s) — "
            "rewrite lost or duplicated rows; lineage NOT committed"
        )
    new_lineage.write.mode("overwrite").parquet(os.path.join(out_dir, "_lineage"))

    return {
        "n_rows": done.count(),
        "n_buckets": new_lineage.count(),
        "n_input_files": data.inputFiles().__len__(),
        "n_output_files": done.inputFiles().__len__(),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="streamed out_dir (data + _lineage)")
    ap.add_argument("--output", required=True, help="compacted batch-layout dir")
    args = ap.parse_args()

    from mistral_ocr_app_spark.session import get_spark

    spark = get_spark(app_name="compact_streamed_output")
    stats = compact(spark, args.input, args.output)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
