"""Per-partition checkpoint / lineage — resumable extraction commits.

Modeled on the reference's append-only audit log (the only durable
"progress" record it keeps: settings_history, written on every change —
/root/reference/database/settings_manager.py:28-41) and the MERGE-style
upsert it uses for settings (J6/U2). At 10¹²-turn scale the job MUST be
resumable: a killed run re-extracts only uncommitted work.

Design (SURVEY §4.3):
  * work unit = conv bucket: ``pmod(xxhash64(conv_id), n_buckets)`` —
    deterministic, independent of file layout; conversations never span
    buckets so per-conv assembly stays intra-bucket.
  * data sink is partitioned by bucket with DYNAMIC partition overwrite:
    re-running a bucket atomically replaces its directory → idempotent
    under retry/speculation.
  * lineage row appended ONLY after a bucket's data write succeeded:
    (bucket, status, n_turns, n_convs, fingerprint, committed_at).
    fingerprint = bit_xor of row hashes — order-insensitive and
    overflow-free (ANSI mode), so identical output ⟺ identical
    fingerprint regardless of execution order.
  * resume plans each leg from the lineage alone: one read collects
    the committed bucket ids, and the input is scanned once, by the
    extraction, through a broadcast LEFT ANTI against the committed
    lineage (details in ``run_extraction_with_lineage``). Resume
    assumes the input did not change between the kill and the resume.

On a real cluster the lineage table is an Iceberg table and the commit
is ``MERGE INTO``; locally both are parquet directories (append-only
lineage + dynamic-overwrite data), which preserves the same idempotence
contract.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import EXTRACT_FIELDS, extract_turns
from ..sources.io import read_transcripts

DEFAULT_BUCKETS = 64


def bucket_expr(n_buckets: int = DEFAULT_BUCKETS):
    """Deterministic conv bucket; salting for long-conversation skew is a
    property of bucket count, not data order."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def _key_fields(keys: tuple[str, ...]) -> list[T.StructField]:
    return [T.StructField(k, T.IntegerType()) for k in keys]


def read_data(
    spark: SparkSession, data_dir: str, keys: tuple[str, ...] = ("bucket",)
) -> DataFrame:
    """The committed per-turn table: ``EXTRACT_FIELDS`` plus its int
    partition keys (``bucket``; ``bucket, epoch`` for the streaming
    sink). Schema-pinned, so the read runs no inference job."""
    return spark.read.schema(T.StructType(EXTRACT_FIELDS + _key_fields(keys))).parquet(
        data_dir
    )


def read_lineage(
    spark: SparkSession, lineage_dir: str, keys: tuple[str, ...] = ("bucket",)
) -> DataFrame:
    """Lineage rows as ``lineage_rows`` writes them, schema-pinned: no
    inference job, and an existing but empty directory reads as zero
    rows instead of failing."""
    return spark.read.schema(T.StructType(_key_fields(keys) + LINEAGE_FIELDS)).parquet(
        lineage_dir
    )


def _done_buckets(spark: SparkSession, lineage_dir: str) -> DataFrame | None:
    """Committed bucket ids, one per commit; None only when the lineage
    directory does not exist. Any other read error raises: treating an
    unreadable lineage as "nothing committed" would re-extract every
    bucket and append duplicate lineage rows."""
    if not os.path.isdir(lineage_dir):
        return None
    return read_lineage(spark, lineage_dir).filter(F.col("status") == "done").select(
        "bucket"
    )


def committed_lineage(spark: SparkSession, lineage_dir: str) -> DataFrame | None:
    """Distinct committed bucket ids as a RELATION (None if no lineage
    yet). Resume filters anti-join against this — never an ``isin`` over
    a collected list, which at 4096+ mostly-committed buckets becomes a
    giant literal IN in the plan (SURVEY §4.3 prescribes the anti-join)."""
    done = _done_buckets(spark, lineage_dir)
    return None if done is None else done.distinct()


def committed_buckets(spark: SparkSession, lineage_dir: str) -> list[int]:
    """Sorted committed bucket ids, for planning a leg and for stats —
    NOT for plan filters. The lineage holds one row per bucket commit,
    so the ids are deduplicated on the driver: one scan job, no shuffle."""
    done = _done_buckets(spark, lineage_dir)
    if done is None:
        return []
    return sorted({r["bucket"] for r in done.collect()})


def pending_transcripts(
    spark: SparkSession,
    transcripts_path: str,
    lineage_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Transcripts still to extract: LEFT ANTI against the committed
    lineage relation (plan-asserted in tests/test_lineage.py) — never an
    ``isin`` over a collected list, whose plan grows with every
    committed bucket."""
    transcripts = read_transcripts(spark, transcripts_path).withColumn(
        "bucket", bucket_expr(n_buckets)
    )
    lin_done = committed_lineage(spark, lineage_dir)
    if lin_done is None:
        return transcripts
    return transcripts.join(F.broadcast(lin_done), "bucket", "left_anti")


# the columns lineage_rows adds after its keys, as written to parquet
LINEAGE_FIELDS = [
    T.StructField("status", T.StringType()),
    T.StructField("n_turns", T.LongType()),
    T.StructField("n_convs", T.LongType()),
    T.StructField("fingerprint", T.LongType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("n_images", T.LongType()),
    T.StructField("n_rewritten", T.LongType()),
    T.StructField("n_invalid", T.LongType()),
    T.StructField("committed_at", T.TimestampType()),
]


def lineage_rows(
    extracted_with_bucket: DataFrame, keys: tuple[str, ...] = ("bucket",)
) -> DataFrame:
    """Per-commit-unit lineage rows: counts + order-insensitive
    fingerprint + per-kind metrics (the reference's processing_info
    analog, app.py:720-726). Batch commits key by bucket; the streaming
    sink keys by (bucket, epoch) — same row shape either way."""
    return extracted_with_bucket.groupBy(*keys).agg(
        F.lit("done").alias("status"),
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, extracted_text))").alias(
            "fingerprint"
        ),
        F.sum(F.length("extracted_text")).alias("n_chars"),
        F.sum("n_images").alias("n_images"),
        F.sum("n_rewritten").alias("n_rewritten"),
        F.count_if(~F.col("valid")).alias("n_invalid"),
        F.current_timestamp().alias("committed_at"),
    )


def _listed_buckets(df: DataFrame) -> set[int]:
    """Bucket ids with a file in ``df``'s file listing. ``inputFiles``
    returns the listing the relation already holds: no Spark job."""
    return {
        int(m.group(1))
        for f in df.inputFiles()
        if (m := re.search(r"/bucket=(\d+)/[^/]*$", f))
    }


def run_extraction_with_lineage(
    spark: SparkSession,
    transcripts_path: str,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    fail_after_buckets: int | None = None,
) -> dict:
    """Extract transcripts → per-turn output parquet, bucket-partitioned,
    with per-bucket lineage commits. Re-invocation after a kill resumes:
    committed buckets are skipped.

    Each leg is planned from the lineage alone: the work is every
    bucket id not committed yet. When there is none the call returns
    without touching the input; otherwise the extraction scans the
    input once. The buckets committed now are the work ids with a
    directory in the written data's file listing, so buckets without
    input rows are neither written nor committed.

    ``fail_after_buckets``: test hook — work on only the first k
    uncommitted bucket ids then stop, simulating a mid-job kill
    *between* bucket commits (a kill *inside* a bucket write just leaves
    an uncommitted bucket, which dynamic overwrite makes safe to rerun).
    It commits fewer than k buckets when some of those ids have no rows.

    Resume assumes the input did not change between kill and resume.

    Returns {n_pending, n_committed_before, n_committed_now}; n_pending
    is the number of buckets this call committed.
    """
    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "_lineage")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    committed = committed_buckets(spark, lineage_dir)
    todo = sorted(set(range(n_buckets)) - set(committed))
    if fail_after_buckets is not None:
        todo = todo[:fail_after_buckets]

    written: list[int] = []
    if todo:
        pending = pending_transcripts(spark, transcripts_path, lineage_dir, n_buckets)
        if fail_after_buckets is not None:
            # test hook simulating a kill after k bucket commits: an isin
            # over k literals is fine here (k is small by construction)
            pending = pending.filter(F.col("bucket").isin(todo))
        extracted = extract_turns(pending.drop("bucket")).withColumn(
            "bucket", bucket_expr(n_buckets)
        )
        # data first (atomic per-partition dynamic overwrite) ...
        extracted.write.partitionBy("bucket").mode("overwrite").parquet(data_dir)
        # ... lineage only after the data write returned. The re-read is
        # what makes the fingerprint audit honest (hash bytes on disk,
        # not bytes in memory). Restricting it: a semi-join does NOT get
        # dynamic partition pruning for a local build relation (measured:
        # empty PartitionFilters, full scan), so use a STATIC isin on the
        # partition column — it prunes directories, and its literal count
        # equals the buckets THIS run wrote (small on resume, which is
        # when most buckets are committed and pruning matters); a fresh
        # full run writes every bucket and needs no filter at all.
        done_df = read_data(spark, data_dir)
        written = sorted(set(todo) & _listed_buckets(done_df))
        if written:
            if len(written) < n_buckets:
                done_df = done_df.filter(F.col("bucket").isin(written))
            lineage_rows(done_df).write.mode("append").parquet(lineage_dir)

    return {
        "n_pending": len(written),
        "n_committed_before": len(committed),
        "n_committed_now": len(written),
    }


def verify_lineage(
    spark: SparkSession, out_dir: str, keys: tuple[str, ...] = ("bucket",)
) -> DataFrame:
    """Audit committed buckets: recompute (n_turns, fingerprint) from the
    data actually on disk and compare with the lineage rows. Returns the
    mismatch set — empty ⟺ every committed bucket's bytes still produce
    the fingerprint recorded at commit time (detects partial writes,
    manual edits, bit-rot; the at-scale analog of the reference's
    validate_ocr_response production checks, app.py:142-177).

    The fingerprint is bit_xor of row hashes, so verification is
    order-insensitive and runs as one pass over the data."""
    keys = list(keys)
    data = read_data(spark, os.path.join(out_dir, "data"), keys)
    lineage = (
        read_lineage(spark, os.path.join(out_dir, "_lineage"), keys)
        .filter(F.col("status") == "done")
        .select(*keys, "n_turns", "fingerprint")
    )
    actual = data.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("actual_n_turns"),
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, extracted_text))").alias(
            "actual_fingerprint"
        ),
    )
    return (
        lineage.join(actual, keys, "full_outer")
        .filter(
            (F.col("n_turns").isNull())
            | (F.col("actual_n_turns").isNull())
            | (F.col("n_turns") != F.col("actual_n_turns"))
            | (F.col("fingerprint") != F.col("actual_fingerprint"))
        )
        .orderBy(*keys)
    )
