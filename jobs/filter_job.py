#!/usr/bin/env python
"""Corpus quality-filter entrypoint — the C4-style gating stage.

Chains the engine's text-analysis operators (operators/corpus.py
c-family, all JVM-side column expressions) into the filter pass a
training-data pipeline runs between dedup and training:

  * exact-substring dedup     (optional --strip-dup-windows W: remove
                               non-canonical duplicated W-token windows
                               corpus-wide BEFORE gating, Lee-et-al-style
                               — operators/substring_dedup.py)
  * PII redaction             (optional --redact-pii: email/IPv4/phone
                               scrub BEFORE gating so exports never see
                               raw spans — functions/pii.py)
  * token/length gates        (c1 semantics: whitespace token count)
  * stopword-ratio band       (c2: boilerplate/gibberish both fail it)
  * mean-token-length band    (c2: code dumps / minified junk fail high)
  * language allow-list       (c3: bigram-hit heuristic)
  * repetition gates          (Gopher-style char-weighted top-2-gram /
                               duplicated-2-gram shares, shuffle-free —
                               operators/repetition.py)
  * benchmark decontamination (optional --decontaminate BENCH_PARQUET:
                               W-token window-hash overlap against the
                               eval set, broadcast semi-join —
                               operators/decontaminate.py)

Every row keeps its verdict and per-rule flags (nothing is silently
dropped — the reject table is written too, with reasons, because at
100 TB the rejects ARE the QA surface).

Usage:
    spark-submit --py-files engine.zip jobs/filter_job.py \\
        --input /path/to/documents_parquet --output /path/to/filter_out \\
        [--min-tokens 20] [--max-tokens 100000]
        [--stopword-band 0.05 0.6] [--langs latin-en latin-es]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def quality_flags(
    docs: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    stopword_lo: float = 0.05,
    stopword_hi: float = 0.6,
    mean_len_hi: float = 12.0,
    langs: tuple[str, ...] = ("latin-en", "latin-es"),
) -> DataFrame:
    """documents(text, ...) → per-row rule flags + verdict. Pure column
    expressions (same building blocks as catalog queries c1-c3). The
    verdict ANDs every ``pass_*`` column present on the frame — so an
    upstream stage (decontamination) that contributed its own flag is
    folded in automatically."""
    from mistral_ocr_app_spark.operators.corpus import STOPWORDS
    from mistral_ocr_app_spark.operators.repetition import with_repetition_flags

    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("int")
    stop_arr = F.array([F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    stop_ratio = n_stop.cast("double") / n_tokens
    mean_len = F.length("text").cast("double") / n_tokens
    en = F.size(F.regexp_extract_all("text", F.lit("th|he|in|er"), 0))
    es = F.size(F.regexp_extract_all("text", F.lit("de|la|el|os"), 0))
    lang_guess = F.when(en >= es, "latin-en").otherwise("latin-es")

    staged = with_repetition_flags(
        docs, cols=("q_top2gram_frac", "q_dup2gram_frac", "pass_repetition")
    )
    flagged = staged.select(
        "*",
        n_tokens.alias("q_n_tokens"),
        F.round(stop_ratio, 4).alias("q_stop_ratio"),
        F.round(mean_len, 4).alias("q_mean_token_len"),
        lang_guess.alias("q_lang"),
        (n_tokens >= min_tokens).alias("pass_min_tokens"),
        (n_tokens <= max_tokens).alias("pass_max_tokens"),
        stop_ratio.between(stopword_lo, stopword_hi).alias("pass_stopwords"),
        (mean_len <= mean_len_hi).alias("pass_token_len"),
        lang_guess.isin(*langs).alias("pass_lang"),
    )
    verdict = F.lit(True)
    for c in flagged.columns:
        if c.startswith("pass_"):
            verdict = verdict & F.col(c)
    return flagged.withColumn("quality_pass", verdict)


def apply_substring_dedup(docs: DataFrame, width: int) -> DataFrame:
    """Exact-substring dedup stage (Lee-et-al-style): strip every token
    covered by a non-canonical duplicated ``width``-token window, so the
    quality gates below score the *deduplicated* text. The original text
    survives as ``text_raw`` (rejects are a QA surface; reviewers need
    to see what was cut)."""
    from mistral_ocr_app_spark.operators.substring_dedup import (
        strip_duplicate_windows,
    )

    return (
        strip_duplicate_windows(docs, width=width, out_col="_text_dedup")
        .withColumnRenamed("text", "text_raw")
        .withColumnRenamed("_text_dedup", "text")
    )


def apply_pii_redaction(docs: DataFrame) -> DataFrame:
    """PII scrub stage: ``text`` becomes the redacted stream (typed
    placeholders), per-rule counts land as ``q_n_email`` /
    ``q_n_ipv4`` / ``q_n_phone`` so the QA surface shows how much was
    cut. Runs before gating — downstream exports never see raw PII."""
    from mistral_ocr_app_spark.functions.pii import pii_counts, redact_pii

    counts = pii_counts(F.col("text"))
    return docs.select(
        "*",
        *[c.alias(f"q_{k}") for k, c in counts.items()],
    ).withColumn("text", redact_pii(F.col("text")))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--max-tokens", type=int, default=100_000)
    ap.add_argument("--stopword-band", type=float, nargs=2, default=(0.05, 0.6))
    ap.add_argument("--langs", nargs="+", default=["latin-en", "latin-es"])
    ap.add_argument(
        "--strip-dup-windows", type=int, default=0, metavar="W",
        help="exact-substring dedup before gating: remove non-canonical "
        "duplicated W-token windows corpus-wide (0 = off)",
    )
    ap.add_argument(
        "--redact-pii", action="store_true",
        help="scrub email/IPv4/phone spans to typed placeholders before "
        "gating (counts recorded as q_n_* columns)",
    )
    ap.add_argument(
        "--decontaminate", metavar="BENCH_PARQUET", default=None,
        help="parquet of benchmark texts (text column); documents "
        "sharing a W-token window with any benchmark item fail "
        "pass_decontam",
    )
    ap.add_argument("--contam-width", type=int, default=10, metavar="W")
    ap.add_argument(
        "--shuffle-seed", default=None, metavar="SEED",
        help="write the kept table in a deterministic globally shuffled "
        "order (keyed-hash range sort — reproducible across runs and "
        "cluster sizes; operators/sampling.py)",
    )
    args = ap.parse_args()

    from mistral_ocr_app_spark.session import get_spark

    spark = get_spark(app_name="corpus_quality_filter")
    docs = spark.read.parquet(args.input)
    if args.strip_dup_windows:
        docs = apply_substring_dedup(docs, args.strip_dup_windows)
    if args.redact_pii:
        docs = apply_pii_redaction(docs)
    if args.decontaminate:
        from mistral_ocr_app_spark.operators.decontaminate import decontaminate

        bench = spark.read.parquet(args.decontaminate)
        docs = decontaminate(docs, bench, width=args.contam_width)
    flagged = quality_flags(
        docs,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        stopword_lo=args.stopword_band[0],
        stopword_hi=args.stopword_band[1],
        langs=tuple(args.langs),
    )
    kept = flagged.filter("quality_pass").drop(
        *[c for c in flagged.columns if c.startswith("pass_")]
    )
    if args.shuffle_seed:
        from mistral_ocr_app_spark.operators.sampling import global_shuffle

        kept = global_shuffle(kept, "doc_id", seed=args.shuffle_seed)
    kept.write.mode("overwrite").parquet(os.path.join(args.output, "kept"))
    flagged.filter("NOT quality_pass").write.mode("overwrite").parquet(
        os.path.join(args.output, "rejected")
    )

    rule_counts = flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if("quality_pass").alias("n_kept"),
        *[
            F.count_if(~F.col(c)).alias(f"fail_{c.removeprefix('pass_')}")
            for c in flagged.columns
            if c.startswith("pass_")
        ],
    ).first()
    print(json.dumps(rule_counts.asDict()))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
