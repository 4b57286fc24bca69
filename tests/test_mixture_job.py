"""Mixture builder — weight semantics, determinism, shuffle order."""

import hashlib

from pyspark.sql import functions as F

from mixture_job import build_mixture

from mistral_ocr_app_spark.operators.corpus import P_HASH

SF_DIR = "/root/testdata/sf0.001"
DOCS = f"{SF_DIR}/documents.parquet"


def _py_hash(seed, key):
    return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:15], 16) % P_HASH


def test_weights_and_determinism(spark):
    sources = [("web", DOCS, 0.5), ("aux", DOCS, 1.25)]
    mix = build_mixture(spark, sources, seed="m1")
    rows = mix.collect()
    n_docs = spark.read.parquet(DOCS).count()

    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r["id"])
    # web: one fractional epoch ~50%; aux: one full epoch + ~25% epoch
    assert 0.4 * n_docs < len(by_source["web"]) < 0.6 * n_docs
    assert all(i.endswith("#e0") for i in by_source["web"])
    aux_e0 = [i for i in by_source["aux"] if i.endswith("#e0")]
    aux_e1 = [i for i in by_source["aux"] if i.endswith("#e1")]
    assert len(aux_e0) == n_docs  # full epoch
    assert 0.15 * n_docs < len(aux_e1) < 0.35 * n_docs
    # fractional membership is the exact python predicate
    expect_e1 = {
        f"{d}#e1"
        for d in range(n_docs)
        if _py_hash("m1:aux:e1", d) < int(0.25 * P_HASH)
    }
    assert set(aux_e1) == expect_e1

    # byte-identical on a re-run (fresh lineage, same selection + order)
    again = [
        (r["id"], r["source"]) for r in build_mixture(spark, sources, seed="m1").collect()
    ]
    assert again == [(r["id"], r["source"]) for r in rows]


def test_global_order_is_the_hash_order(spark):
    mix = build_mixture(spark, [("web", DOCS, 0.3)], seed="m2")
    ids = [r["id"] for r in mix.collect()]
    assert ids == sorted(ids, key=lambda k: (_py_hash("m2", k), k))
    assert ids != sorted(ids)


def test_sources_interleave_in_shuffled_output(spark):
    mix = build_mixture(spark, [("a", DOCS, 0.5), ("b", DOCS, 0.5)], seed="m3")
    srcs = [r["source"] for r in mix.select("source").collect()]
    # a global shuffle must interleave the two sources, not concatenate
    first_half = srcs[: len(srcs) // 2]
    assert {"a", "b"} <= set(first_half)
    flips = sum(1 for x, y in zip(srcs, srcs[1:]) if x != y)
    assert flips > len(srcs) / 8
