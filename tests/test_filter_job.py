"""Quality-filter job: verdicts consistent with the oracled c2 catalog
query, every row lands in exactly one of kept/rejected, rejects carry
per-rule reasons."""

import sys

from pyspark.sql import functions as F

from conftest import JOBS_DIR
from filter_job import quality_flags

SF_DIR = "/root/testdata/sf0.001"


def test_flags_consistent_with_c2_catalog_query(spark):
    """c2_quality_score's quality_pass uses the same min-tokens +
    stopword-band rules; with the extra rules disabled the job must
    reproduce it exactly (both are built from the same expressions,
    but c2 is DuckDB-oracled — this transfers that trust; the job's
    always-on repetition gate maps to c2's separately-oracled
    repetition_pass column)."""
    from mistral_ocr_app_spark.operators import catalog

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 400
    )
    ours = quality_flags(
        docs, min_tokens=20, max_tokens=10**9, mean_len_hi=1e9,
        langs=("latin-en", "latin-es"),
    ).select("doc_id", F.col("quality_pass").cast("int").alias("qp"))
    c2 = catalog.queries()["c2_quality_score"](spark, SF_DIR).select(
        "doc_id",
        (F.col("quality_pass").cast("boolean")
         & F.col("repetition_pass").cast("boolean")).cast("int").alias("qp_c2"),
    )
    joined = ours.join(c2, "doc_id")
    assert joined.count() == docs.count()
    assert joined.filter(F.col("qp") != F.col("qp_c2")).count() == 0


def test_partition_is_total_and_reasons_recorded(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    flagged = quality_flags(docs, min_tokens=30)
    n = docs.count()
    kept = flagged.filter("quality_pass")
    rejected = flagged.filter("NOT quality_pass")
    assert kept.count() + rejected.count() == n
    # every reject fails at least one named rule
    rule_cols = [c for c in flagged.columns if c.startswith("pass_")]
    no_reason = rejected.filter(
        F.forall(F.array(*[F.col(c) for c in rule_cols]), lambda x: x)
    )
    assert no_reason.count() == 0


def test_substring_dedup_stage_rewrites_text(spark):
    """--strip-dup-windows path: text becomes the deduped stream (c1's
    oracled dup positions predict exactly which tokens disappear), the
    original survives as text_raw, row count and doc_ids unchanged."""
    from filter_job import apply_substring_dedup

    from mistral_ocr_app_spark.operators.substring_dedup import (
        duplicate_window_stats,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = apply_substring_dedup(docs, width=10)
    assert out.count() == docs.count()
    assert {"text", "text_raw"} <= set(out.columns)
    stats = duplicate_window_stats(docs, width=10).select(
        "doc_id", "n_dup_windows"
    )
    joined = out.join(stats, "doc_id")
    # untouched docs keep their text verbatim; touched docs shrink
    assert (
        joined.filter("n_dup_windows = 0 AND text <> text_raw").count() == 0
    )
    touched = joined.filter("n_dup_windows > 0")
    assert touched.count() > 0
    assert touched.filter(F.length("text") >= F.length("text_raw")).count() == 0


def test_cli_all_stages_together(tmp_path):
    """The full production invocation: substring dedup + PII scrub +
    decontamination + gating + shuffled write, via the real CLI
    (subprocess — argument wiring and stage order are part of the
    contract). Every stage must leave its fingerprint on the output."""
    import json
    import subprocess

    bench_dir = str(tmp_path / "bench")
    out_dir = str(tmp_path / "out")
    # benchmark = the held-out slice written through a side job
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT doc_id, text FROM '{SF_DIR}/documents.parquet' "
        f"WHERE doc_id >= 450) TO '{bench_dir}' (FORMAT PARQUET, "
        "PER_THREAD_OUTPUT FALSE)"
    )
    proc = subprocess.run(
        [
            sys.executable, str(JOBS_DIR / "filter_job.py"),
            "--input", f"{SF_DIR}/documents.parquet",
            "--output", out_dir,
            "--min-tokens", "10",
            "--strip-dup-windows", "10",
            "--redact-pii",
            "--decontaminate", bench_dir,
            "--shuffle-seed", "it7",
        ],
        capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["n_docs"] == 500
    assert 0 < stats["n_kept"] < 500
    assert "fail_decontam" in stats and "fail_repetition" in stats

    kept = con.execute(f"SELECT * FROM '{out_dir}/kept/*.parquet'").df()
    rej = con.execute(f"SELECT * FROM '{out_dir}/rejected/*.parquet'").df()
    assert len(kept) + len(rej) == 500
    assert "text_raw" in kept.columns  # dedup stage ran
    assert {"q_n_email", "q_n_ipv4", "q_n_phone"} <= set(kept.columns)
    assert "n_contam_windows" in kept.columns
    assert (kept["n_contam_windows"] == 0).all()  # contaminated can't be kept
    assert (~rej[rej["n_contam_windows"] > 0]["quality_pass"]).all()
