"""Benchmark decontamination — planted-overlap pins, pure-Python
n-gram-set differential, and the broadcast-probe plan guarantee."""

from pyspark.sql import functions as F

from mistral_ocr_app_spark.operators.decontaminate import (
    benchmark_window_hashes,
    contamination_counts,
    decontaminate,
)

SF_DIR = "/root/testdata/sf0.001"
W = 10

BENCH = [
    (0, "what is the capital of france the answer is paris obviously today"),
    (1, "list the first ten prime numbers two three five seven eleven thirteen"),
]

# doc 100 embeds an 11-token span of bench 0 (2 overlapping 10-windows),
# doc 101 embeds a 10-token span of bench 1 (exactly 1 window),
# doc 102 shares 9 tokens only (below width -> clean),
# doc 103 is unrelated.
DOCS = [
    (100, "intro text what is the capital of france the answer is paris obviously trailing words here"),
    (101, "the first ten prime numbers two three five seven eleven padding"),
    (102, "what is the capital of france the answer is nothing like that"),
    (103, "completely unrelated content about weather patterns in the highlands today"),
]


def _py_counts(docs, bench, w):
    def wins(t):
        toks = t.lower().split(" ")
        return [tuple(toks[i : i + w]) for i in range(len(toks) - w + 1)]

    bset = {win for _, t in bench for win in wins(t)}
    return {
        i: sum(1 for win in wins(t) if win in bset) for i, t in docs
    }


def test_planted_overlap(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_contam_windows"], r["pass_decontam"])
        for r in decontaminate(docs, bench, width=W).collect()
    }
    expect = _py_counts(DOCS, BENCH, W)
    assert expect[100] == 2 and expect[101] == 1  # the plant worked
    for doc_id, n in expect.items():
        assert out[doc_id] == (n, n == 0), doc_id


def test_differential_on_fixture_corpus(spark):
    """Held-out slice of the real documents table as the benchmark —
    hash-window counts must equal the token-tuple-set reference."""
    docs_df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench_df = docs_df.filter(F.col("doc_id") >= 450)
    rows = [(r["doc_id"], r["text"]) for r in docs_df.collect()]
    docs = [(i, t) for i, t in rows if i < 450]
    bench = [(i, t) for i, t in rows if i >= 450]
    expect = _py_counts(docs, bench, W)

    got = {
        r["doc_id"]: r["n_contam_windows"]
        for r in decontaminate(
            docs_df.filter(F.col("doc_id") < 450), bench_df, width=W
        ).collect()
    }
    assert got == expect
    assert sum(1 for v in expect.values() if v > 0) > 0  # non-degenerate


def test_probe_is_broadcast_no_corpus_shuffle(spark):
    """The corpus side must not shuffle: the semi-join against the
    benchmark hash set has to be a broadcast probe, and no sort-merge
    join may appear anywhere in the flagging plan."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") >= 450)
    bh = benchmark_window_hashes(bench, width=W)
    plan = (
        contamination_counts(docs, bh, width=W)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_quality_pass_folds_decontam_flag(spark):
    from filter_job import quality_flags

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bench = spark.createDataFrame(BENCH, "doc_id long, text string")
    flagged = quality_flags(decontaminate(docs, bench, width=W), min_tokens=5)
    got = {r["doc_id"]: r for r in flagged.collect()}
    assert not got[100]["pass_decontam"] and not got[100]["quality_pass"]
    assert got[103]["pass_decontam"]
