#!/usr/bin/env python
"""Training-mixture builder — the last stage before tokenization.

A training run consumes a *mixture*: several filtered corpora combined
at chosen sampling weights (e.g. 60% web documents, 30% conversations,
10% code), shuffled globally so sequential batches are i.i.d. across
sources. This job composes the engine's deterministic primitives
(operators/sampling.py) into that stage:

  1. per source: deterministic keyed-hash sample at the source's
     weight (membership is a pure function of (seed, source, id) —
     re-running the job, or resuming it on a different cluster size,
     selects the SAME rows);
  2. tag + union (schema = id, text, source — extra columns dropped so
     heterogeneous corpora union cleanly);
  3. one global shuffle (range-partitioned hash sort) over the union;
  4. sharded parquet write (shard i = i-th contiguous slice of the
     shuffled order, what a sharded training reader expects).

Oversampling (weight > 1.0) duplicates a source k times with distinct
sample seeds — standard practice for small high-quality corpora; the
duplicated rows get an epoch suffix on their id so downstream exact
dedup does not collapse them.

Usage:
    spark-submit --py-files engine.zip jobs/mixture_job.py \\
        --source web=/path/docs_parquet:0.6 \\
        --source chat=/path/chat_parquet:1.5 \\
        --output /path/mixture --seed m1 --shards 64
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _one_source(
    spark: SparkSession, name: str, path: str, weight: float, seed: str,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """One source at its weight: floor(weight) full epochs + one
    fractional deterministic sample, ids epoch-suffixed."""
    from mistral_ocr_app_spark.operators.sampling import deterministic_sample

    if weight <= 0:
        raise ValueError(f"source {name!r}: weight must be > 0, got {weight}")
    base = spark.read.parquet(path).select(
        F.col(id_col).cast("string").alias("id"),
        F.col(text_col).alias("text"),
    )
    parts = []
    full_epochs = math.floor(weight)
    frac = weight - full_epochs
    for epoch in range(full_epochs):
        parts.append(base.withColumn("id", F.concat("id", F.lit(f"#e{epoch}"))))
    if frac > 0:
        parts.append(
            deterministic_sample(
                base, frac, key_col="id", seed=f"{seed}:{name}:e{full_epochs}"
            ).withColumn("id", F.concat("id", F.lit(f"#e{full_epochs}")))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("source", F.lit(name))


def build_mixture(
    spark: SparkSession,
    sources: list[tuple[str, str, float]],
    seed: str,
    shards: int | None = None,
) -> DataFrame:
    from mistral_ocr_app_spark.operators.sampling import global_shuffle

    union = None
    for name, path, weight in sources:
        df = _one_source(spark, name, path, weight, seed)
        union = df if union is None else union.unionByName(df)
    return global_shuffle(union, key_col="id", seed=seed, partitions=shards)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--source", action="append", required=True, metavar="NAME=PATH:WEIGHT",
        help="repeatable; WEIGHT in (0, ~4]: fraction sampled, >1 oversamples",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--seed", default="m0")
    ap.add_argument("--shards", type=int, default=None)
    args = ap.parse_args()

    sources = []
    for s in args.source:
        name, rest = s.split("=", 1)
        path, weight = rest.rsplit(":", 1)
        sources.append((name, path, float(weight)))

    from mistral_ocr_app_spark.session import get_spark

    spark = get_spark(app_name="mixture_builder")
    mix = build_mixture(spark, sources, args.seed, args.shards)
    mix.write.mode("overwrite").parquet(args.output)

    stats = (
        spark.read.parquet(args.output)
        .groupBy("source")
        .count()
        .orderBy("source")
        .collect()
    )
    print(json.dumps({r["source"]: r["count"] for r in stats}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
