#!/usr/bin/env python
"""Corpus dedup entrypoint — documents parquet → canonical mapping.

Chains the engine's dedup operators into the pipeline a training-data
corpus actually runs:

  1. exact dedup (d1 semantics): sha256(text) hash-groupBy
  2. MinHash+LSH candidate pairs (d4): banded signatures, bucket join,
     with a mega-bucket guard — buckets over --max-bucket-size are
     dropped (their band carries no selectivity for those docs) and the
     dropped counts are surfaced in the stats line (no silent caps)
  3. candidate VERIFICATION: true token-set Jaccard >= threshold,
     computed only on the candidate pairs (linear in candidates — the
     d3 expression without d3's quadratic self-join). Without this,
     transitive closure over raw LSH collisions merges unrelated docs
     that merely share banded-signature buckets.
  4. connected components over (exact ∪ verified-near-dup) pairs →
     (doc_id, canonical_id, is_canonical)

Usage:
    spark-submit --py-files engine.zip jobs/dedup_job.py \\
        --input /path/to/documents_parquet --output /path/to/dedup_out

Output: parquet (doc_id, canonical_id, is_canonical) + one JSON stats
line on stdout. Survivor rule everywhere: smallest doc_id (matches the
d1 catalog query's ``canonical_id`` and the reference's deterministic-
winner convention, SURVEY §2.8 X13 — no randomness).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def exact_pairs(docs):
    """d1-style exact-duplicate pairs: every doc joins its group's min."""
    groups = docs.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("doc_a"), F.collect_list("doc_id").alias("ids")
    )
    return (
        groups.select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


DEFAULT_MAX_BUCKET = 1000  # LSH bucket-membership ceiling (see below)


DEFAULT_SALT_THRESHOLD = 64  # grid-salt buckets heavier than this


def near_dup_pairs(docs, jaccard_threshold: float = 0.8,
                   max_bucket_size: int | None = DEFAULT_MAX_BUCKET):
    """LSH candidates (guarded) → Jaccard-verified near-dup pairs.

    Production path: xxhash64 base hash (~4× cheaper than the
    oracle-portable md5 family; same banded-LSH construction), PLUS the
    mega-bucket guard — a stopword-like (band, bucket) with k members
    emits O(k²) candidate pairs that the verify step must process even
    though AQE spreads the join itself; buckets over ``max_bucket_size``
    are dropped and returned for the job stats (no silent caps), and
    merely-heavy buckets (over ``DEFAULT_SALT_THRESHOLD``) are enumerated
    on the grid-salt lattice — identical pair set, bounded task size.

    Verification: true token-set Jaccard computed on candidates only —
    the d3 expression, linear in |candidates|, no quadratic self-join.
    Returns (near_pairs, dropped_buckets | None).
    """
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    bands = lsh_bands(minhash_signatures(docs, portable=False))
    cand, dropped = lsh_candidate_pairs(
        bands, max_bucket_size, salt_threshold=DEFAULT_SALT_THRESHOLD
    )
    toks = docs.select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("tok")
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("tok_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    inter = F.size(F.array_intersect("tok_a", "tok_b")).cast("double")
    union = F.size(F.array_distinct(F.concat("tok_a", "tok_b")))
    near = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(inter / union >= jaccard_threshold)
        .select("doc_a", "doc_b")
    )
    return near, dropped


# ---- incremental dedup against committed state (VERDICT r5 item 5) ----
# A 100 TB pipeline does not re-cluster the whole corpus per batch: each
# new batch dedups against a committed STATE STORE -- the canonical
# mapping plus the exact-digest and LSH band-bucket indexes of every
# committed doc. Committed signatures are READ from the store, never
# recomputed (plan-asserted in tests/test_dedup_incremental.py); the
# committed documents parquet is touched exactly once, to fetch token
# sets for Jaccard verification of candidate partners only.

STATE_MAPPING = "mapping"
STATE_DIGESTS = "digests"
STATE_BANDS = "bands"


def write_dedup_state(docs, mapping, state_dir: str) -> None:
    """Commit the state an incremental run joins against:

    * ``mapping/``  — (doc_id, canonical_id, is_canonical)
    * ``digests/``  — (h = sha256(text), rep = min committed doc_id)
    * ``bands/``    — (doc_id, band, bucket) raw LSH band rows
      (UNguarded: the mega-bucket ceiling is a candidate-generation
      policy applied over the combined committed+new membership at
      incremental time, not a property of the stored index)
    """
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        minhash_signatures,
    )

    mapping.write.mode("overwrite").parquet(os.path.join(state_dir, STATE_MAPPING))
    (
        docs.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("rep"))
        .write.mode("overwrite")
        .parquet(os.path.join(state_dir, STATE_DIGESTS))
    )
    (
        lsh_bands(minhash_signatures(docs, portable=False))
        .write.mode("overwrite")
        .parquet(os.path.join(state_dir, STATE_BANDS))
    )


def commit_incremental_state(
    spark, new_docs, mapping_path: str, old_state_dir: str, new_state_dir: str
) -> None:
    """Rotate the state store after an incremental run: new dir =
    committed indexes ∪ the new batch, mapping = the run's output.
    A separate dir (not in-place) so a killed rotation never corrupts
    the store the next batch will read."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        minhash_signatures,
    )

    spark.read.parquet(mapping_path).write.mode("overwrite").parquet(
        os.path.join(new_state_dir, STATE_MAPPING)
    )
    old_dig = spark.read.parquet(os.path.join(old_state_dir, STATE_DIGESTS))
    new_dig = new_docs.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("rep")
    )
    (
        old_dig.unionByName(new_dig)
        .groupBy("h")
        .agg(F.min("rep").alias("rep"))
        .write.mode("overwrite")
        .parquet(os.path.join(new_state_dir, STATE_DIGESTS))
    )
    old_bands = spark.read.parquet(os.path.join(old_state_dir, STATE_BANDS))
    (
        old_bands.unionByName(
            lsh_bands(minhash_signatures(new_docs, portable=False))
        )
        .write.mode("overwrite")
        .parquet(os.path.join(new_state_dir, STATE_BANDS))
    )


def _tokens(docs, id_alias: str, tok_alias: str):
    return docs.select(
        F.col("doc_id").alias(id_alias),
        F.array_distinct(F.split(F.lower("text"), " ")).alias(tok_alias),
    )


def incremental_edges(
    spark,
    new_docs,
    committed_docs,
    state_dir: str,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
):
    """Edges linking the new batch to itself and to committed CANONICAL
    ids — the contracted-graph formulation: every committed endpoint is
    replaced by its committed canonical (all members of a committed
    cluster are already connected, so one edge to the canonical is
    equivalent to edges to any member). Returns (edges, dropped); the
    edge union may repeat a pair, which ``connected_components``
    deduplicates.

    Committed signatures/digests come from the state store; minhash is
    computed ONLY over the new batch. ``committed_docs`` is consulted
    once, to verify Jaccard on candidate partners (a join, so the scan
    is pruned to candidate rows' columns).

    Skew policy mirrors the full-corpus path: new-new candidates use the
    grid-salted self-join (``DEFAULT_SALT_THRESHOLD``); the new x committed
    equi-join needs no lattice because the combined mega-bucket guard
    already caps per-bucket expansion at k_n * k_c < max_bucket_size^2
    rows streamed by the hinted SMJ with AQE skew-split."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        minhash_signatures,
    )

    state_map = spark.read.parquet(os.path.join(state_dir, STATE_MAPPING))
    state_dig = spark.read.parquet(os.path.join(state_dir, STATE_DIGESTS))
    state_bands = spark.read.parquet(os.path.join(state_dir, STATE_BANDS))
    canon = state_map.select(
        F.col("doc_id").alias("c_id"), F.col("canonical_id").alias("c_canon")
    )

    # --- exact: new-new pairs + new digests probing the committed index
    nn_exact = exact_pairs(new_docs)
    nc_exact = (
        new_docs.select(F.sha2("text", 256).alias("h"), "doc_id")
        .join(state_dig, "h")
        .join(canon, F.col("rep") == F.col("c_id"))
        .select(F.col("doc_id").alias("doc_a"), F.col("c_canon").alias("doc_b"))
    )

    # --- LSH: new bands computed, committed bands READ from the store
    new_bands = lsh_bands(minhash_signatures(new_docs, portable=False))
    dropped = None
    if max_bucket_size is not None:
        # mega-bucket ceiling over the COMBINED membership — the same
        # bucket a full-corpus run would see (full-run equivalence)
        k_new = new_bands.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("k_n")
        )
        k_old = state_bands.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("k_c")
        )
        dropped = (
            k_new.join(k_old, ["band", "bucket"], "full_outer")
            .select(
                "band", "bucket",
                (F.coalesce("k_n", F.lit(0)) + F.coalesce("k_c", F.lit(0))
                 ).alias("k"),
            )
            .filter(F.col("k") > max_bucket_size)
        )
        new_bands = new_bands.join(
            F.broadcast(dropped), ["band", "bucket"], "left_anti"
        )
        state_bands = state_bands.join(
            F.broadcast(dropped), ["band", "bucket"], "left_anti"
        )
    from mistral_ocr_app_spark.operators.corpus import lsh_candidate_pairs

    nn_cand, _ = lsh_candidate_pairs(
        new_bands, None, salt_threshold=DEFAULT_SALT_THRESHOLD
    )
    nc_cand = (
        new_bands.join(
            state_bands.select(
                "band", "bucket", F.col("doc_id").alias("doc_b")
            ).hint("merge"),
            ["band", "bucket"],
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )

    # --- Jaccard verification on candidates only (the d3 expression)
    tok_new = _tokens(new_docs, "t_id", "tok")
    tok_old = _tokens(committed_docs, "t_id", "tok")
    inter = F.size(F.array_intersect("tok_a", "tok_b")).cast("double")
    union = F.size(F.array_distinct(F.concat("tok_a", "tok_b")))

    def verify(cand, right_toks):
        return (
            cand.join(
                tok_new.select(F.col("t_id").alias("doc_a"),
                               F.col("tok").alias("tok_a")),
                "doc_a",
            )
            .join(
                right_toks.select(F.col("t_id").alias("doc_b"),
                                  F.col("tok").alias("tok_b")),
                "doc_b",
            )
            .filter(inter / union >= jaccard_threshold)
            .select("doc_a", "doc_b")
        )

    nn_near = verify(nn_cand, tok_new)
    nc_near = (
        verify(nc_cand, tok_old)
        .join(canon, F.col("doc_b") == F.col("c_id"))
        .select("doc_a", F.col("c_canon").alias("doc_b"))
    )

    edges = (
        nn_exact.unionByName(nc_exact)
        .unionByName(nn_near)
        .unionByName(nc_near)
    )
    return edges, dropped


def incremental_dedup(
    spark,
    new_docs,
    committed_docs,
    state_dir: str,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
):
    """New batch + committed state → the FULL updated canonical mapping
    (committed rows relabelled where a new doc merged clusters, new
    rows appended). Output is identical to re-running the full-corpus
    job over committed ∪ new (pytest-proven), at the cost of one batch
    instead of one corpus."""
    from mistral_ocr_app_spark.operators.dedup_cluster import (
        connected_components,
    )

    edges, dropped = incremental_edges(
        spark, new_docs, committed_docs, state_dir,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )
    state_map = spark.read.parquet(os.path.join(state_dir, STATE_MAPPING))

    # components over the contracted graph: new doc ids + committed
    # canonical ids; component = min reachable id (the full-run rule,
    # because a committed canonical is already the min of its cluster)
    comp = connected_components(edges)

    relabel = comp.select(
        F.col("doc_id").alias("node"), F.col("component").alias("new_canon")
    )
    updated_committed = (
        state_map.join(
            relabel, state_map.canonical_id == relabel.node, "left"
        )
        .select(
            "doc_id",
            F.coalesce("new_canon", "canonical_id").alias("canonical_id"),
        )
    )
    new_rows = (
        new_docs.select("doc_id")
        .join(relabel, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id", F.coalesce("new_canon", "doc_id").alias("canonical_id")
        )
    )
    mapping = (
        updated_committed.unionByName(new_rows)
        .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))
    )
    return mapping, dropped


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--skip-near-dup", action="store_true",
                    help="exact dedup only (no MinHash/LSH pass)")
    ap.add_argument("--jaccard-threshold", type=float, default=0.8,
                    help="min token-set Jaccard for an LSH candidate pair "
                         "to count as a near-duplicate (verification step)")
    ap.add_argument("--max-bucket-size", type=int, default=DEFAULT_MAX_BUCKET,
                    help="LSH bucket-membership ceiling; oversized buckets "
                         "are dropped and counted in the stats line "
                         "(0 disables the guard)")
    ap.add_argument("--state", default=None,
                    help="committed state dir → INCREMENTAL mode: --input "
                         "is a NEW BATCH deduped against the committed "
                         "digest/band indexes (no full-corpus re-scan of "
                         "signatures); requires --committed-input")
    ap.add_argument("--committed-input", default=None,
                    help="committed documents parquet (incremental mode: "
                         "read once, only for candidate-partner Jaccard "
                         "verification)")
    ap.add_argument("--commit-state", default=None,
                    help="write the post-run state store here (full mode: "
                         "fresh store; incremental mode: rotated store = "
                         "old indexes + the new batch — must differ from "
                         "--state)")
    args = ap.parse_args()
    if args.state and not args.committed_input:
        ap.error("--state requires --committed-input")
    if args.commit_state and args.commit_state == args.state:
        ap.error("--commit-state must differ from --state (dir rotation)")

    from mistral_ocr_app_spark.operators.dedup_cluster import canonicalize
    from mistral_ocr_app_spark.session import get_spark

    spark = get_spark(app_name="corpus_dedup")

    docs = spark.read.parquet(args.input)
    if args.state:
        committed = spark.read.parquet(args.committed_input)
        mapping, dropped = incremental_dedup(
            spark, docs, committed, args.state,
            jaccard_threshold=args.jaccard_threshold,
            max_bucket_size=args.max_bucket_size or None,
        )
        mapping.write.mode("overwrite").parquet(args.output)
        if args.commit_state:
            commit_incremental_state(
                spark, docs, args.output, args.state, args.commit_state
            )
    else:
        pairs = exact_pairs(docs)
        dropped = None
        if not args.skip_near_dup:
            near, dropped = near_dup_pairs(
                docs,
                jaccard_threshold=args.jaccard_threshold,
                max_bucket_size=args.max_bucket_size or None,
            )
            pairs = pairs.unionByName(near)

        mapping = canonicalize(docs, pairs)
        mapping.write.mode("overwrite").parquet(args.output)
        if args.commit_state:
            write_dedup_state(
                docs, spark.read.parquet(args.output), args.commit_state
            )

    # one scan for both counts (count + count_if in a single agg job)
    row = (
        spark.read.parquet(args.output)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("is_canonical")).alias("n_canonical"),
        )
        .first()
    )
    stats = {"n_docs": row["n_docs"], "n_canonical": row["n_canonical"],
             "n_removed": row["n_docs"] - row["n_canonical"]}
    if dropped is not None:
        # no-silent-caps rule: surface what the mega-bucket guard dropped
        drow = dropped.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.coalesce(F.sum("k"), F.lit(0)).alias("n_rows"),
        ).first()
        stats["lsh_buckets_dropped"] = drow["n_buckets"]
        stats["lsh_band_rows_dropped"] = int(drow["n_rows"])
        stats["max_bucket_size"] = args.max_bucket_size
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
