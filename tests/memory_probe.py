"""Subprocess probe for the chunked-assembly OOM bound.

Runs ONE pathological conversation (``--turns`` turns, one conv_id)
through flat ``assemble_conversations`` or ``assemble_conversations_chunked``
inside a deliberately small JVM (``--driver-memory``). Prints ``PROBE_OK``
on success; an OOM kills the JVM (nonzero exit) — the parent test
asserts flat dies where chunked survives.

Run via subprocess only: spark.driver.memory must be set before the JVM
launches, so this cannot share the test session.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

# the checkout this probe belongs to, not whichever copy is on sys.path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["flat", "chunked"], required=True)
    ap.add_argument("--turns", type=int, default=2_000_000)
    ap.add_argument("--driver-memory", default="600m")
    ap.add_argument("--chunk-size", type=int, default=4096)
    ap.add_argument("--text-len", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"memory_probe_{args.mode}")
        .config("spark.driver.memory", args.driver_memory)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from mistral_ocr_app_spark.operators.assemble import (
        assemble_conversations,
        assemble_conversations_chunked,
    )

    turns = spark.range(args.turns).select(
        F.lit("the-one-conversation").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.rpad(F.lit("t"), args.text_len, "x").alias("extracted_text"),
    )
    fn = (
        assemble_conversations
        if args.mode == "flat"
        else lambda df: assemble_conversations_chunked(df, chunk_size=args.chunk_size)
    )
    out = fn(turns).select(
        "conv_id", "n_turns", F.length("combined_app").alias("len_app")
    )
    row = out.first()
    print(f"PROBE_OK n_turns={row['n_turns']} len_app={row['len_app']}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
