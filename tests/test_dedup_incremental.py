"""Incremental dedup against committed state (jobs/dedup_job.py):
batch-split incremental run must equal the full-corpus run, and the
incremental plan must not re-scan/recompute committed signatures."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from conftest import JOBS_DIR
from dedup_job import (
    exact_pairs,
    incremental_dedup,
    incremental_edges,
    near_dup_pairs,
    write_dedup_state,
)
from mistral_ocr_app_spark.operators.dedup_cluster import canonicalize


def _corpus_rows():
    """Committed batch (ids 10-59) + new batch (ids 100-149) with every
    incremental case represented:

    * exact dup inside the committed batch  (10 == 11)
    * exact dup across batches              (12 == 100, 100 == 101)
    * near-dup across batches               (13 ~ 102)
    * BRIDGE: committed clusters {20,21} and {30,31} are < 0.8 Jaccard
      apart (never merge in a committed-only run) but new doc 103 is
      >= 0.8 similar to both → the incremental run must merge the two
      committed clusters and relabel {30,31} to canonical 20
    * unique docs on both sides (no edges)
    """
    core = [f"tok{i}" for i in range(17)]  # 17 shared tokens
    a_extra = ["alpha1", "alpha2", "alpha3"]
    b_extra = ["beta1", "beta2", "beta3"]
    text_a = " ".join(core + a_extra)          # cluster A: 20 tokens
    text_b = " ".join(core + b_extra)          # cluster B: 20 tokens
    bridge = " ".join(core)                    # J(bridge,A)=17/20=0.85
    # J(A,B) = 17/23 ≈ 0.739 < 0.8 → A,B unlinked without the bridge

    near = [f"word{i}" for i in range(20)]
    near_v = near[:-1] + ["changed"]           # J = 19/21 ≈ 0.905

    committed = [
        (10, "identical committed text one two three four five six"),
        (11, "identical committed text one two three four five six"),
        (12, "cross batch duplicate payload seven eight nine ten"),
        (13, " ".join(near)),
        (20, text_a), (21, text_a + " alpha4"),
        (30, text_b), (31, text_b + " beta4"),
        (40, "totally unique committed doc qqq www eee rrr ttt yyy"),
        (41, "another unique committed doc zzz xxx ccc vvv bbb nnn"),
    ]
    new = [
        (100, "cross batch duplicate payload seven eight nine ten"),
        (101, "cross batch duplicate payload seven eight nine ten"),
        (102, " ".join(near_v)),
        (103, bridge),
        (110, "totally unique new doc aaa sss ddd fff ggg hhh"),
    ]
    return committed, new


def _full_mapping(spark, docs, max_bucket_size=None):
    pairs = exact_pairs(docs)
    near, _ = near_dup_pairs(docs, max_bucket_size=max_bucket_size)
    return canonicalize(docs, pairs.unionByName(near).distinct())


def _sorted_pdf(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
        .astype({"doc_id": "int64", "canonical_id": "int64"})
    )


def test_incremental_equals_full_corpus_run(spark, tmp_path):
    committed_rows, new_rows = _corpus_rows()
    schema = "doc_id long, text string"
    committed = spark.createDataFrame(committed_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    all_docs = spark.createDataFrame(committed_rows + new_rows, schema)

    # full-corpus reference run
    full = _sorted_pdf(_full_mapping(spark, all_docs))

    # committed run → state store → incremental batch
    state = str(tmp_path / "state")
    committed_map = _full_mapping(spark, committed)
    write_dedup_state(committed, committed_map, state)
    inc_map, dropped = incremental_dedup(
        spark, new, committed, state, max_bucket_size=None
    )
    inc = _sorted_pdf(inc_map)

    pd.testing.assert_frame_equal(inc, full)
    assert dropped is None

    # non-vacuity: the cases actually fired
    m = dict(zip(full["doc_id"], full["canonical_id"]))
    assert m[100] == 12 and m[101] == 12        # cross-batch exact
    assert m[102] == 13                          # cross-batch near-dup
    # bridge merged the two committed clusters through new doc 103
    assert m[103] == 20 and m[30] == 20 and m[31] == 20
    assert m[21] == 20
    # committed-only run had NOT merged them (bridge is genuinely needed)
    cm = dict(
        zip(*(lambda p: (p["doc_id"], p["canonical_id"]))(
            _sorted_pdf(committed_map)))
    )
    assert cm[30] == 30 and cm[20] == 20
    # unique docs untouched
    for d in (40, 41, 110):
        assert m[d] == d


def test_incremental_equals_full_with_bucket_guard(spark, tmp_path):
    """The mega-bucket ceiling applies to COMBINED (committed+new)
    bucket membership, so a guarded incremental run still equals the
    guarded full-corpus run."""
    committed_rows, new_rows = _corpus_rows()
    # clone flood: identical docs split across the two batches so the
    # bucket only crosses the ceiling when both sides are counted
    clone = "boilerplate clone text repeated across every crawl batch"
    committed_rows = committed_rows + [(50 + i, clone) for i in range(6)]
    new_rows = new_rows + [(120 + i, clone) for i in range(6)]
    schema = "doc_id long, text string"
    committed = spark.createDataFrame(committed_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    all_docs = spark.createDataFrame(committed_rows + new_rows, schema)

    cap = 8  # 12 clones combined > 8 > 6 per-batch
    full = _sorted_pdf(_full_mapping(spark, all_docs, max_bucket_size=cap))
    state = str(tmp_path / "state")
    committed_map = _full_mapping(spark, committed, max_bucket_size=cap)
    write_dedup_state(committed, committed_map, state)
    inc_map, dropped = incremental_dedup(
        spark, new, committed, state, max_bucket_size=cap
    )
    pd.testing.assert_frame_equal(_sorted_pdf(inc_map), full)
    # the guard fired on combined membership (k = 12 per clone band)
    drop = dropped.toPandas()
    assert len(drop) >= 1 and (drop["k"] == 12).all()
    # ... and the clones still collapsed via the EXACT path
    m = dict(zip(full["doc_id"], full["canonical_id"]))
    for i in range(6):
        assert m[50 + i] == 50 and m[120 + i] == 50


def test_incremental_plan_never_rescans_committed_signatures(
    spark, tmp_path
):
    """The committed side of candidate generation must come from the
    state store's band/digest indexes, not a recompute: the committed
    documents parquet appears in the plan EXACTLY once (Jaccard
    verification of candidate partners), and every minhash/xxhash64
    computation sits over the new batch's scan."""
    # plan strings truncate scan locations at 100 chars by default —
    # the assertions below match on full paths (conf restored at exit:
    # the session fixture is shared)
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    try:
        _run_plan_assertions(spark, tmp_path)
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")


def _run_plan_assertions(spark, tmp_path):
    committed_rows, new_rows = _corpus_rows()
    schema = "doc_id long, text string"
    committed_path = str(tmp_path / "committed_docs")
    new_path = str(tmp_path / "new_docs")
    spark.createDataFrame(committed_rows, schema).write.parquet(committed_path)
    spark.createDataFrame(new_rows, schema).write.parquet(new_path)
    committed = spark.read.parquet(committed_path)
    new = spark.read.parquet(new_path)

    state = str(tmp_path / "state")
    write_dedup_state(committed, _full_mapping(spark, committed), state)

    edges, _ = incremental_edges(
        spark, new, committed, state, max_bucket_size=None
    )
    plan = edges._jdf.queryExecution().executedPlan().toString()
    # committed docs: exactly one scan (verification), zero signature
    # recomputation over it
    assert plan.count(f"file:{committed_path}") == 1, plan
    # committed bands/digests come from the state store
    assert f"{state}/bands" in plan
    assert f"{state}/digests" in plan
    # signatures (xxhash64 minhash) computed over the NEW batch only:
    # in the indented plan tree a Project's scan prints below it — the
    # first FileScan location after every xxhash64 line must be the
    # new batch's path
    lines = plan.splitlines()
    assert any("xxhash64" in ln for ln in lines)
    for i, ln in enumerate(lines):
        if "xxhash64" in ln:
            below = "\n".join(lines[i:])
            first_loc = below.find("file:")
            assert below[first_loc:].startswith(f"file:{new_path}"), (
                "xxhash64 computed over a non-new-batch relation:\n" + plan
            )


def test_incremental_job_cli_end_to_end(spark, tmp_path):
    """The spark-submit surface: full run with --commit-state, then an
    incremental run with --state/--committed-input/--commit-state; the
    rotated store drives a second incremental batch correctly."""
    import subprocess
    import sys as _sys

    committed_rows, new_rows = _corpus_rows()
    schema = "doc_id long, text string"
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(committed_rows, schema).write.parquet(b1)
    spark.createDataFrame(new_rows, schema).write.parquet(b2)
    s1 = str(tmp_path / "state1")
    s2 = str(tmp_path / "state2")
    out1 = str(tmp_path / "map1")
    out2 = str(tmp_path / "map2")

    def run(*args):
        proc = subprocess.run(
            [_sys.executable, str(JOBS_DIR / "dedup_job.py"), *args],
            capture_output=True, text=True,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return proc

    run("--input", b1, "--output", out1, "--commit-state", s1,
        "--max-bucket-size", "0")
    run("--input", b2, "--output", out2, "--state", s1,
        "--committed-input", b1, "--commit-state", s2,
        "--max-bucket-size", "0")

    all_docs = spark.createDataFrame(committed_rows + new_rows, schema)
    full = _sorted_pdf(_full_mapping(spark, all_docs))
    got = _sorted_pdf(spark.read.parquet(out2))
    pd.testing.assert_frame_equal(got, full)
    # rotated store carries the union: digests cover both batches
    n_dig = spark.read.parquet(f"{s2}/digests").count()
    n_txt = all_docs.select("text").distinct().count()
    assert n_dig == n_txt
