"""Exactly-once streaming extraction sink — the streaming twin of
``plans/lineage.py``.

A batch job commits whole conv-buckets; a stream delivers one bucket's
turns across many micro-batches, so the streaming unit of commit is
``(bucket, epoch)``:

  * ``foreachBatch`` stamps each micro-batch with its epoch id and
    writes data partitioned by ``(bucket, epoch)`` under DYNAMIC
    partition overwrite — a replayed epoch (checkpoint recovery
    re-delivers the same micro-batch) replaces exactly its own
    partition directories instead of appending duplicates. This is the
    standard idempotent-foreachBatch recipe for exactly-once file sinks
    (Structured Streaming guarantees batch ids are stable on replay).
  * lineage rows — same shape and same order-insensitive ``bit_xor``
    fingerprint as the batch path (``lineage_rows`` with
    ``keys=("bucket","epoch")``), recomputed from the bytes ON DISK —
    land partitioned by ``epoch`` with dynamic overwrite, so a replayed
    epoch also replaces its own lineage rows.

The result: kill the stream anywhere, restart from the checkpoint (or
even replay from scratch into the same output), and the data + lineage
tables converge to the same content; ``verify_streaming_lineage``
audits it per (bucket, epoch) exactly like the batch fingerprint audit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_turns
from ..plans.lineage import DEFAULT_BUCKETS, bucket_expr, lineage_rows, read_data
from ..plans.lineage import verify_lineage as _verify
from ..sources.io import TRANSCRIPT_SCHEMA


def run_streaming_extraction_with_lineage(
    spark: SparkSession,
    transcripts_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    max_files_per_trigger: int | None = None,
    timeout_sec: int = 300,
) -> None:
    """Continuous extraction with per-(bucket, epoch) exactly-once
    commits; runs with an availableNow trigger until the source drains
    (swap the trigger for continuous ingest in production)."""
    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "_lineage")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = extract_turns(reader.parquet(transcripts_dir))

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        stamped = batch_df.withColumn("bucket", bucket_expr(n_buckets)).withColumn(
            "epoch", F.lit(int(epoch_id))
        )
        # data first: replayed epochs overwrite exactly their partitions
        stamped.write.partitionBy("bucket", "epoch").mode("overwrite").parquet(
            data_dir
        )
        # lineage from the bytes on disk (honest fingerprint), epoch-
        # partitioned so replay replaces rather than duplicates
        done = read_data(
            batch_df.sparkSession, data_dir, keys=("bucket", "epoch")
        ).filter(F.col("epoch") == int(epoch_id))
        lineage_rows(done, keys=("bucket", "epoch")).write.partitionBy(
            "epoch"
        ).mode("overwrite").parquet(lineage_dir)

    q = (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def verify_streaming_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fingerprint audit per (bucket, epoch) — empty ⟺ every committed
    micro-batch's bytes still match its recorded fingerprint."""
    return _verify(spark, out_dir, keys=("bucket", "epoch"))
