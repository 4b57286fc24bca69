"""Streaming surface: availableNow-triggered runs against the fixture
corpus; batch/stream parity for the shared extractor."""

import shutil

import pandas as pd
import pytest

from mistral_ocr_app_spark.streaming.metrics import extract_stream, turn_rate_stream


@pytest.fixture(scope="module")
def stream_dir(fixture_paths, tmp_path_factory):
    """FileStreamSource wants a directory of files, not a single file."""
    d = tmp_path_factory.mktemp("stream_src")
    shutil.copy(fixture_paths["transcripts"], d / "part-000.parquet")
    return str(d)


def _run_to_memory(spark, sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_turn_rate_windows(spark, fixture_paths, stream_dir):
    sdf = turn_rate_stream(spark, stream_dir)
    # complete mode: append would withhold windows not yet past the
    # watermark (the stream ends before they finalize)
    out = _run_to_memory(spark, sdf, "rates", "complete").toPandas()
    assert len(out) > 0
    assert set(out["role"]) <= {"user", "assistant", "tool"}
    # windowed totals must equal the batch count
    batch_n = spark.read.parquet(fixture_paths["transcripts"]).count()
    assert int(out["n_turns"].sum()) == batch_n
    # 10-minute alignment
    assert (out["window_start"].dt.minute % 10 == 0).all()


def test_stream_extraction_matches_batch(spark, fixture_paths, stream_dir):
    sdf = extract_stream(spark, stream_dir)
    got = (
        _run_to_memory(spark, sdf, "extracted_stream", "append")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    gold = (
        pd.read_parquet(fixture_paths["golden_turns"])
        [["conv_id", "turn_idx", "extracted_text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, gold, check_dtype=False)

@pytest.fixture(scope="module")
def two_batch_dir(fixture_paths, tmp_path_factory):
    """Source split into two files so maxFilesPerTrigger=1 forces state
    to survive across two micro-batches."""
    d = tmp_path_factory.mktemp("stream_src2")
    t = pd.read_parquet(fixture_paths["transcripts"])
    half = len(t) // 2
    t.iloc[:half].to_parquet(d / "part-000.parquet", index=False)
    t.iloc[half:].to_parquet(d / "part-001.parquet", index=False)
    return str(d)


def test_stateful_conversation_progress(spark, fixture_paths, two_batch_dir):
    from mistral_ocr_app_spark.streaming.metrics import conversation_progress_stream

    sdf = conversation_progress_stream(spark, two_batch_dir, max_files_per_trigger=1)
    out = _run_to_memory(spark, sdf, "conv_progress", "update").toPandas()
    # last emission per conversation = final accumulated state
    final = (
        out.sort_values("n_batches").groupby("conv_id").last().reset_index()
    )
    truth = (
        pd.read_parquet(fixture_paths["transcripts"])
        .groupby("conv_id")
        .agg(n=("turn_idx", "size"), mx=("turn_idx", "max"))
        .reset_index()
    )
    merged = final.merge(truth, on="conv_id")
    assert len(merged) == len(truth)
    assert (merged["n_turns_seen"] == merged["n"]).all()
    assert (merged["max_turn_idx"] == merged["mx"]).all()
    # state actually crossed a micro-batch boundary for split convs
    assert (final["n_batches"] >= 2).any()


def test_streaming_exactly_once_commits(spark, fixture_paths, two_batch_dir, tmp_path):
    """foreachBatch epoch-keyed commits: multi-micro-batch run lands the
    golden table with per-(bucket, epoch) lineage; a full replay from
    scratch (fresh checkpoint, same output) converges to identical data
    and lineage instead of duplicating."""
    from mistral_ocr_app_spark.streaming.commit import (
        run_streaming_extraction_with_lineage,
        verify_streaming_lineage,
    )

    out = str(tmp_path / "stream_out")
    run_streaming_extraction_with_lineage(
        spark, two_batch_dir, out, str(tmp_path / "ckpt1"),
        n_buckets=8, max_files_per_trigger=1,
    )
    data = spark.read.parquet(f"{out}/data")
    got = (
        data.select("conv_id", "turn_idx", "extracted_text")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    gold = (
        pd.read_parquet(fixture_paths["golden_turns"])
        [["conv_id", "turn_idx", "extracted_text"]]
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, gold, check_dtype=False)

    lin = spark.read.parquet(f"{out}/_lineage").toPandas()
    assert lin["epoch"].nunique() >= 2  # state crossed micro-batches
    assert verify_streaming_lineage(spark, out).count() == 0

    # replay from scratch into the SAME output: epoch-keyed dynamic
    # overwrite must replace, not duplicate
    run_streaming_extraction_with_lineage(
        spark, two_batch_dir, out, str(tmp_path / "ckpt2"),
        n_buckets=8, max_files_per_trigger=1,
    )
    assert spark.read.parquet(f"{out}/data").count() == len(gold)
    lin2 = spark.read.parquet(f"{out}/_lineage").toPandas()
    cols = ["bucket", "epoch", "n_turns", "fingerprint"]
    pd.testing.assert_frame_equal(
        lin[cols].sort_values(["bucket", "epoch"]).reset_index(drop=True),
        lin2[cols].sort_values(["bucket", "epoch"]).reset_index(drop=True),
    )
    assert verify_streaming_lineage(spark, out).count() == 0


def test_compaction_to_batch_layout(spark, fixture_paths, two_batch_dir, tmp_path):
    """Streamed (bucket, epoch) output compacts into the canonical batch
    layout: fewer files, batch-keyed lineage, fingerprints cross-checked
    (xor of epoch fingerprints == compacted fingerprint), and the batch
    fingerprint audit passes on the result."""
    from compact_job import compact

    from mistral_ocr_app_spark.plans.lineage import verify_lineage
    from mistral_ocr_app_spark.streaming.commit import (
        run_streaming_extraction_with_lineage,
    )

    stream_out = str(tmp_path / "stream_out")
    run_streaming_extraction_with_lineage(
        spark, two_batch_dir, stream_out, str(tmp_path / "ck"),
        n_buckets=8, max_files_per_trigger=1,
    )
    batch_out = str(tmp_path / "batch_out")
    stats = compact(spark, stream_out, batch_out)
    assert stats["n_output_files"] < stats["n_input_files"]
    assert stats["n_buckets"] == 8

    # compacted table == streamed table == golden
    got = (
        spark.read.parquet(f"{batch_out}/data")
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    gold = (
        pd.read_parquet(fixture_paths["golden_turns"])
        [["conv_id", "turn_idx", "extracted_text"]]
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, gold, check_dtype=False)
    # the BATCH audit accepts the compacted output — one table contract
    assert verify_lineage(spark, batch_out).count() == 0

    # corruption is caught BEFORE lineage commit: drop one epoch file
    import glob
    import os

    victim = sorted(glob.glob(f"{stream_out}/data/bucket=*/epoch=*/part-*"))[0]
    os.remove(victim)
    with pytest.raises(RuntimeError, match="fingerprint mismatch"):
        compact(spark, stream_out, str(tmp_path / "batch_out2"))
