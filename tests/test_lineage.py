"""Kill/resume property tests (SURVEY §5 step 3): a job killed after k
bucket commits resumes to a byte-identical table without re-extracting
committed buckets."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mistral_ocr_app_spark.plans.lineage import (
    committed_buckets,
    run_extraction_with_lineage,
)

N_BUCKETS = 8


def _write_turn(path, conv_id, text):
    """One hand-written per-turn row in the data/ layout."""
    pd.DataFrame(
        {
            "conv_id": [conv_id], "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"], "ts": pd.to_datetime(["2020-01-01"]).astype("datetime64[us]"),
            "kind": ["markdown"], "extracted_text": [text],
            "n_refs": pd.array([0], dtype="int32"),
            "n_images": pd.array([0], dtype="int32"),
            "n_rewritten": pd.array([0], dtype="int32"),
            "n_spans": pd.array([0], dtype="int32"), "valid": [True],
        }
    ).to_parquet(path, index=False)


def _fake_partial_write(out):
    """Stale/partial parquet in bucket 5's data directory with no lineage
    row: what a kill during that bucket's data write leaves behind."""
    partial_dir = f"{out}/data/bucket=5"
    os.makedirs(partial_dir, exist_ok=True)
    _write_turn(f"{partial_dir}/part-junk.parquet", "GARBAGE", "PARTIAL WRITE")


@pytest.fixture(scope="module")
def outputs(spark, fixture_paths, tmp_path_factory):
    base = tmp_path_factory.mktemp("lineage")
    oneshot = str(base / "oneshot")
    resumed = str(base / "resumed")
    stats_full = run_extraction_with_lineage(
        spark, fixture_paths["transcripts"], oneshot, n_buckets=N_BUCKETS
    )
    # killed run: commit only 3 buckets, then resume
    stats_partial = run_extraction_with_lineage(
        spark, fixture_paths["transcripts"], resumed, n_buckets=N_BUCKETS,
        fail_after_buckets=3,
    )
    stats_resume = run_extraction_with_lineage(
        spark, fixture_paths["transcripts"], resumed, n_buckets=N_BUCKETS
    )
    return oneshot, resumed, stats_full, stats_partial, stats_resume


def _table(spark, out_dir) -> pd.DataFrame:
    return (
        spark.read.parquet(f"{out_dir}/data")
        .select("conv_id", "turn_idx", "kind", "extracted_text", "bucket")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_resume_produces_identical_table(spark, outputs):
    oneshot, resumed, *_ = outputs
    pd.testing.assert_frame_equal(_table(spark, oneshot), _table(spark, resumed))


def test_resume_skips_committed_buckets(outputs):
    _, _, stats_full, stats_partial, stats_resume = outputs
    assert stats_full["n_pending"] == N_BUCKETS
    assert stats_partial["n_committed_now"] == 3
    assert stats_resume["n_committed_before"] == 3
    assert stats_resume["n_pending"] == N_BUCKETS - 3


def test_rerun_is_noop(spark, fixture_paths, outputs):
    oneshot, *_ = outputs
    stats = run_extraction_with_lineage(
        spark, fixture_paths["transcripts"], oneshot, n_buckets=N_BUCKETS
    )
    assert stats["n_pending"] == 0 and stats["n_committed_before"] == N_BUCKETS


def test_fingerprints_match_between_runs(spark, outputs):
    oneshot, resumed, *_ = outputs
    fp1 = (
        spark.read.parquet(f"{oneshot}/_lineage")
        .select("bucket", "fingerprint", "n_turns")
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    fp2 = (
        spark.read.parquet(f"{resumed}/_lineage")
        .select("bucket", "fingerprint", "n_turns")
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(fp1, fp2)


def test_lineage_has_one_row_per_bucket(spark, outputs):
    oneshot, resumed, *_ = outputs
    for out in (oneshot, resumed):
        lin = spark.read.parquet(f"{out}/_lineage")
        assert lin.count() == N_BUCKETS
        assert lin.select("bucket").distinct().count() == N_BUCKETS
        assert committed_buckets(spark, f"{out}/_lineage") == sorted(
            r["bucket"] for r in lin.select("bucket").collect()
        )


def test_resume_filter_is_left_anti_join(spark, fixture_paths, outputs):
    """The resume plan must be a broadcast LEFT ANTI against the lineage
    relation, not a literal IN-list (which grows with committed buckets
    and is the wrong shape at 4096+ buckets)."""
    from mistral_ocr_app_spark.plans.lineage import pending_transcripts

    oneshot, *_ = outputs
    pending = pending_transcripts(
        spark, fixture_paths["transcripts"], f"{oneshot}/_lineage", N_BUCKETS
    )
    plan = pending._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert " IN (" not in plan and " INSET " not in plan
    assert pending.count() == 0  # everything committed → nothing pending


def test_reread_filter_prunes_partitions(spark, outputs):
    """The post-write re-read (fingerprint source) must reach the scan as
    a partition filter — directories of committed buckets are skipped,
    not read-then-filtered."""
    from pyspark.sql import functions as F

    oneshot, *_ = outputs
    df = spark.read.parquet(f"{oneshot}/data").filter(F.col("bucket").isin([1, 3]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in pf and "IN" in pf.upper()


def test_mid_write_crash_leaves_recoverable_state(spark, fixture_paths, tmp_path):
    """A kill DURING a bucket's data write leaves partial files but no
    lineage row; the resume must overwrite the partial bucket (dynamic
    partition overwrite) and converge to the one-shot table."""
    out = str(tmp_path / "crashy")
    # commit 2 of 8 buckets, then fake a crash mid-write of bucket 5:
    # stale/partial parquet exists in the data dir without a lineage row
    run_extraction_with_lineage(
        spark, fixture_paths["transcripts"], out, n_buckets=N_BUCKETS,
        fail_after_buckets=2,
    )
    _fake_partial_write(out)
    assert spark.read.parquet(f"{out}/data").filter("conv_id = 'GARBAGE'").count() == 1

    stats = run_extraction_with_lineage(
        spark, fixture_paths["transcripts"], out, n_buckets=N_BUCKETS
    )
    assert stats["n_pending"] == N_BUCKETS - 2
    final = spark.read.parquet(f"{out}/data")
    assert final.filter("conv_id = 'GARBAGE'").count() == 0  # partial gone
    got = (
        final.select("conv_id", "turn_idx", "extracted_text")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    gold = (
        pd.read_parquet(fixture_paths["golden_turns"])
        [["conv_id", "turn_idx", "extracted_text"]]
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, gold, check_dtype=False)


def test_extraction_output_matches_golden_via_lineage_path(spark, outputs, fixture_paths):
    oneshot, *_ = outputs
    got = _table(spark, oneshot)[["conv_id", "turn_idx", "extracted_text"]]
    gold = (
        pd.read_parquet(fixture_paths["golden_turns"])
        [["conv_id", "turn_idx", "extracted_text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, gold, check_dtype=False)


def test_verify_lineage_clean_and_corrupted(spark, outputs):
    """Fingerprint audit: clean output verifies empty; corrupting one
    bucket's data (extra row) flags exactly that bucket."""
    from mistral_ocr_app_spark.plans.lineage import verify_lineage

    oneshot, *_ = outputs
    assert verify_lineage(spark, oneshot).count() == 0

    import glob
    import shutil

    corrupt = str(oneshot) + "_corrupt"
    shutil.copytree(oneshot, corrupt)
    victim = sorted(glob.glob(f"{corrupt}/data/bucket=*"))[0]
    bucket_id = int(victim.rsplit("=", 1)[1])
    _write_turn(f"{victim}/part-injected.parquet", "INJECTED", "tampered")
    bad = verify_lineage(spark, corrupt).collect()
    assert [r["bucket"] for r in bad] == [bucket_id]
    assert bad[0]["actual_n_turns"] == bad[0]["n_turns"] + 1


# ---------------------------------------------------------------------------
# Differential: the lineage-planned legs against the scan-planned reference.


def _reference_run_extraction_with_lineage(
    spark, transcripts_path, out_dir, n_buckets, fail_after_buckets=None
):
    """The scan-planned implementation, kept as the reference: it lists
    the pending bucket ids with a distinct scan of the input, reads the
    lineage with schema inference and takes an unreadable lineage for
    "nothing committed"."""
    from mistral_ocr_app_spark.operators.extract import extract_turns
    from mistral_ocr_app_spark.plans.lineage import bucket_expr, lineage_rows

    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "_lineage")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    lin_done = None
    if os.path.isdir(lineage_dir):
        try:
            lin = spark.read.parquet(lineage_dir)
            lin_done = lin.filter(F.col("status") == "done").select("bucket").distinct()
        except Exception:
            pass
    n_done = lin_done.count() if lin_done is not None else 0
    pending = spark.read.parquet(transcripts_path).withColumn(
        "bucket", bucket_expr(n_buckets)
    )
    if lin_done is not None:
        pending = pending.join(F.broadcast(lin_done), "bucket", "left_anti")

    pending_buckets = sorted(
        r["bucket"] for r in pending.select("bucket").distinct().collect()
    )
    if fail_after_buckets is not None:
        pending_buckets = pending_buckets[:fail_after_buckets]
        pending = pending.filter(F.col("bucket").isin(pending_buckets))

    n_now = 0
    if pending_buckets:
        extracted = extract_turns(pending.drop("bucket")).withColumn(
            "bucket", bucket_expr(n_buckets)
        )
        extracted.write.partitionBy("bucket").mode("overwrite").parquet(data_dir)
        done_df = spark.read.parquet(data_dir)
        if len(pending_buckets) < n_buckets:
            done_df = done_df.filter(F.col("bucket").isin(pending_buckets))
        lineage_rows(done_df).write.mode("append").parquet(lineage_dir)
        n_now = len(pending_buckets)

    return {
        "n_pending": len(pending_buckets),
        "n_committed_before": n_done,
        "n_committed_now": n_now,
    }


def _assert_same_output(spark, got_dir, ref_dir):
    """data/ on every column and the lineage rows minus committed_at,
    compared as multisets (exceptAll both ways)."""
    for sub, drop in (("data", ()), ("_lineage", ("committed_at",))):
        got = spark.read.parquet(f"{got_dir}/{sub}").drop(*drop)
        ref = spark.read.parquet(f"{ref_dir}/{sub}").drop(*drop)
        assert got.schema == ref.schema, sub
        assert got.count() == ref.count(), sub
        assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty(), sub


def _run_both(spark, transcripts, base, steps, n_buckets):
    """Run the same leg sequence through both implementations into
    separate outputs, comparing stats and outputs after every leg; a
    ``None`` step fakes a partial write instead of running a leg.
    Returns the outputs and the stats dicts."""
    outs = {"got": str(base / "got"), "ref": str(base / "ref")}
    stats = []
    for step in steps:
        if step is None:
            for out in outs.values():
                _fake_partial_write(out)
            continue
        got = run_extraction_with_lineage(
            spark, transcripts, outs["got"], n_buckets=n_buckets, **step
        )
        ref = _reference_run_extraction_with_lineage(
            spark, transcripts, outs["ref"], n_buckets=n_buckets, **step
        )
        assert got == ref
        _assert_same_output(spark, outs["got"], outs["ref"])
        stats.append(got)
    return outs, stats


@pytest.mark.parametrize(
    "steps",
    [
        [{}, {}],
        [{"fail_after_buckets": 3}, {}],
        [{"fail_after_buckets": 2}, None, {}],
    ],
    ids=["fresh_then_rerun", "killed_then_resumed", "mid_write_crash"],
)
def test_legs_match_scan_planned_reference(spark, fixture_paths, tmp_path, steps):
    _run_both(spark, fixture_paths["transcripts"], tmp_path, steps, N_BUCKETS)


def test_mostly_empty_buckets_match_reference_and_rerun_is_noop(
    spark, fixture_paths, tmp_path
):
    """4,096 buckets over a few dozen conversations: most bucket ids have
    no rows, so the work set from the lineage (every uncommitted id) is
    far larger than what gets written and committed."""
    from mistral_ocr_app_spark.plans.lineage import verify_lineage

    n_buckets = 4096
    outs, (fresh, rerun) = _run_both(
        spark, fixture_paths["transcripts"], tmp_path, [{}, {}], n_buckets
    )
    assert 0 < fresh["n_committed_now"] < n_buckets
    assert rerun == {
        "n_pending": 0,
        "n_committed_before": fresh["n_committed_now"],
        "n_committed_now": 0,
    }
    # the rerun appended no lineage row
    lin = spark.read.parquet(f"{outs['got']}/_lineage")
    assert lin.count() == fresh["n_committed_now"]
    assert verify_lineage(spark, outs["got"]).count() == 0


def test_rerun_of_committed_output_runs_one_spark_job(spark, fixture_paths, outputs):
    """A fully committed output is planned from the lineage alone: the
    one job is the lineage read, so the transcripts are never scanned."""
    oneshot, *_ = outputs
    sc = spark.sparkContext
    group = "lineage-rerun-job-count"
    sc.setJobGroup(group, "rerun over a committed output")
    try:
        stats = run_extraction_with_lineage(
            spark, fixture_paths["transcripts"], oneshot, n_buckets=N_BUCKETS
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["n_pending"] == 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_unreadable_lineage_raises(spark, fixture_paths, outputs, tmp_path):
    """Only an absent lineage directory means "nothing committed"; a
    lineage that exists but cannot be read must fail the run instead of
    re-extracting every bucket and appending duplicate lineage rows."""
    import shutil

    oneshot, *_ = outputs
    out = str(tmp_path / "bad_lineage")
    shutil.copytree(oneshot, out)
    shutil.rmtree(f"{out}/_lineage")
    os.makedirs(f"{out}/_lineage")
    with open(f"{out}/_lineage/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_extraction_with_lineage(
            spark, fixture_paths["transcripts"], out, n_buckets=N_BUCKETS
        )
    assert os.listdir(f"{out}/_lineage") == ["part-00000.parquet"]


def test_pinned_readers_match_written_schema(spark, outputs):
    """read_data/read_lineage declare exactly what the writers write, so
    pinning the schema changes no column, type or order."""
    from mistral_ocr_app_spark.plans.lineage import read_data, read_lineage

    oneshot, *_ = outputs
    for sub, read in (("data", read_data), ("_lineage", read_lineage)):
        path = f"{oneshot}/{sub}"
        assert read(spark, path).schema == spark.read.parquet(path).schema, sub
