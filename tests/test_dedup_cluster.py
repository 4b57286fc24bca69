"""Connected-components canonicalization: differential-tested against a
pure-Python union-find on seeded-random pair graphs, plus the full
dedup job end-to-end on the driver testdata."""

import json
import random

import pytest
from pyspark.sql import functions as F

from mistral_ocr_app_spark.operators.dedup_cluster import (
    canonicalize,
    connected_components,
)

SF_DIR = "/root/testdata/sf0.001"


def _union_find_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min element of each component
    comp_min = {}
    for x in list(parent):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, r), x)
    return {x: comp_min[find(x)] for x in parent}


def _components(spark, pairs, **kwargs):
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {
        r["doc_id"]: r["component"]
        for r in connected_components(df, **kwargs).collect()
    }


def test_components_match_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        nodes = range(trial * 1000, trial * 1000 + 300)
        pairs = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(rng.randint(50, 400))
            }
        )
        expected = _union_find_components(pairs)
        assert _components(spark, pairs) == expected, (
            f"trial {trial}: component mismatch"
        )


def test_components_match_union_find_on_edge_cases(spark):
    """Inputs the symmetric edge set and the fused first round must
    absorb: no pairs, self-loops, pairs given in both orientations and
    repeated, and stars centred on their minimum — which converge in the
    first round, so ``max_iter=1`` must not raise on them."""
    stars = [(5, i) for i in range(6, 40)] + [(i, 100) for i in range(101, 120)]
    cases = {
        "empty": [],
        "self_loops": [(1, 1), (2, 2), (2, 3), (7, 7)],
        "both_orientations_repeated": [
            (1, 2), (2, 1), (1, 2), (3, 2), (9, 8), (8, 9), (8, 9),
        ],
        "stars": stars,
    }
    for name, pairs in cases.items():
        assert _components(spark, pairs) == _union_find_components(pairs), name
    assert _components(spark, stars, max_iter=1) == _union_find_components(stars)


def test_components_long_chain_converges(spark):
    """A 64-hop path graph — the adversarial case for plain neighbor-min
    propagation (O(diameter) rounds) — must converge fast via the
    pointer-jumping phase, and still raise when even that is cut short."""
    pairs = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = connected_components(df).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 65
    with pytest.raises(RuntimeError, match="did not converge in 1 iterations"):
        connected_components(df, max_iter=1)


def test_canonicalize_covers_unpaired_docs(spark):
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    # merged doc → its canonical; with no pairs every doc is its own
    for pairs, merged in (([(1, 4), (4, 7)], {4: 1, 7: 1}), ([], {})):
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        m = {r["doc_id"]: (r["canonical_id"], r["is_canonical"])
             for r in canonicalize(docs, df).collect()}
        assert m == {d: (merged.get(d, d), d not in merged) for d in range(10)}


def test_dedup_job_end_to_end(spark, tmp_path):
    """Full job on the driver documents table: mapping is total, the
    survivor rule is min-id, and exact duplicates (identical text) are
    never both canonical."""
    from dedup_job import exact_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = exact_pairs(docs)
    mapping = canonicalize(docs, pairs)
    out = mapping.toPandas()
    assert len(out) == docs.count()
    assert (out["canonical_id"] <= out["doc_id"]).all()
    # exact-dup groups collapse to one canonical representative
    joined = (
        docs.select("doc_id", "text")
        .join(mapping, "doc_id")
        .groupBy(F.sha2("text", 256))
        .agg(F.countDistinct("canonical_id").alias("n_canon"))
    )
    assert joined.filter(F.col("n_canon") > 1).count() == 0


def _adversarial_docs(spark, n_clones=200, n_unique=20):
    """One mega-cluster of identical docs (every LSH band collapses to a
    single bucket of n_clones members) + a tail of distinct docs."""
    rows = [(i, "boilerplate header text repeated verbatim across the crawl")
            for i in range(n_clones)]
    rows += [(10_000 + i, f"unique document {i} with tokens {i * 7} {i * 13} {i * 29}")
             for i in range(n_unique)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _minhash_column_reference(docs, portable):
    """``minhash_signatures`` built as Columns — 17 ``F.transform`` calls
    with Python lambdas: the reference its SQL-text build must
    reproduce bit for bit."""
    from mistral_ocr_app_spark.operators.corpus import (
        _ADD1,
        _ADD2,
        _MUL,
        N_MINHASH,
        P_HASH,
        md5_int,
    )

    toks = F.array_distinct(F.split(F.lower("text"), " "))
    base_hash = md5_int if portable else (
        lambda c: F.pmod(F.xxhash64(c), F.lit(P_HASH))
    )

    def perm(i: int):
        a = ((i * 2 + 1) * _MUL) % P_HASH
        b = (i * _ADD1 + _ADD2) % P_HASH
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(P_HASH)

    sig = F.array(
        *[F.array_min(F.transform(F.col("hs"), perm(i))) for i in range(N_MINHASH)]
    )
    return docs.withColumn("hs", F.transform(toks, base_hash)).select(
        "doc_id", sig.alias("sig")
    )


def test_minhash_signatures_equal_column_reference(spark):
    """Both hash families, on the testdata documents plus null, empty,
    case-folded, repeated-space and non-ASCII texts."""
    from mistral_ocr_app_spark.operators.corpus import minhash_signatures

    edge = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "a A a"), (-4, "  two  spaces "),
         (-5, "Ünïcödé текст 文字")],
        "doc_id long, text string",
    )
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .unionByName(edge)
    )
    for portable in (True, False):
        got = minhash_signatures(docs, portable=portable)
        ref = _minhash_column_reference(docs, portable)
        assert got.exceptAll(ref).count() == 0, portable
        assert ref.exceptAll(got).count() == 0, portable
        assert got.count() == docs.count()


def _reference_pairs(bands):
    """The plain path: one hinted (band, bucket) self-join, then
    ``distinct``. The reference every candidate generator must equal."""
    a, b = bands.alias("a"), bands.hint("merge").alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()


def _reference_guard(bands, max_bucket_size):
    """(pairs, dropped) of the reference with the mega-bucket ceiling:
    drop every (band, bucket) over the ceiling, then ``_reference_pairs``."""
    sizes = bands.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("k"))
    dropped = sizes.filter(F.col("k") > max_bucket_size)
    kept = bands.join(dropped, ["band", "bucket"], "left_anti")
    return _reference_pairs(kept), dropped


def _assert_same_rows(got, ref):
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_lsh_mega_bucket_guard_bounds_candidates(spark):
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _adversarial_docs(spark)
    bands = lsh_bands(minhash_signatures(docs, portable=False))

    uncapped, none_dropped = lsh_candidate_pairs(bands)
    assert none_dropped is None
    n_uncapped = uncapped.count()
    assert n_uncapped >= 200 * 199 // 2  # quadratic blowup without the guard

    capped, dropped = lsh_candidate_pairs(bands, max_bucket_size=50)
    assert capped.count() < 1000  # bounded: mega-bucket never emits pairs
    drop = dropped.toPandas()
    assert len(drop) >= 1  # surfaced, not silent
    assert (drop["k"] > 50).all()
    assert drop["k"].max() == 200  # the clone bucket, per band


def test_lsh_guard_is_noop_on_normal_corpus(spark):
    """Ceiling above every real bucket: candidate output identical to
    the reference and an empty dropped relation."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bands = lsh_bands(minhash_signatures(docs, portable=False))
    capped, dropped = lsh_candidate_pairs(bands, max_bucket_size=10**6)
    assert dropped.count() == 0
    _assert_same_rows(capped, _reference_pairs(bands))


def test_grid_salting_preserves_pair_set_adversarial(spark):
    """Grid salting changes only the PHYSICAL spread of a heavy bucket's
    quadratic expansion — the candidate pair set must be identical.
    Adversarial corpus: the 200-clone mega-bucket is far above the salt
    threshold (heavy path), the unique tail sits below it (light path),
    so both branches of the union are exercised in one run."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _adversarial_docs(spark, n_clones=80, n_unique=30)
    bands = lsh_bands(minhash_signatures(docs, portable=False))

    salted, _ = lsh_candidate_pairs(bands, salt_threshold=16, salt_grid=4)
    _assert_same_rows(salted, _reference_pairs(bands))
    # the heavy path genuinely ran: the clone bucket alone yields
    # 80*79/2 pairs, all of which must survive the lattice enumeration
    assert salted.count() >= 80 * 79 // 2


def test_grid_salting_preserves_pair_set_real_corpus(spark):
    """Same equality on the driver testdata with the production defaults
    (threshold 64, grid 8), plus grid=1 degenerating to the plain join,
    and with a ceiling low enough to drop real buckets: pairs and the
    dropped (band, bucket, k) relation both equal the reference."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bands = lsh_bands(minhash_signatures(docs, portable=False))
    reference = _reference_pairs(bands)
    salted, _ = lsh_candidate_pairs(bands, salt_threshold=64, salt_grid=8)
    degenerate, _ = lsh_candidate_pairs(bands, salt_threshold=64, salt_grid=1)
    for variant in (salted, degenerate):
        _assert_same_rows(variant, reference)
    ref_pairs, ref_dropped = _reference_guard(bands, 20)
    guarded, dropped = lsh_candidate_pairs(bands, max_bucket_size=20)
    assert ref_dropped.count() > 0
    _assert_same_rows(guarded, ref_pairs)
    _assert_same_rows(dropped, ref_dropped)


def test_grid_salting_composes_with_bucket_ceiling(spark):
    """Layered policy: drop k > max_bucket_size, salt
    salt_threshold < k <= max_bucket_size. With a ceiling under the clone
    bucket, the guarded output must equal the guarded reference for a
    salt threshold below the ceiling (the heavy side is non-empty) and
    above the clone bucket (only the ceiling keeps it out of the light
    side), dropped relation included."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _adversarial_docs(spark, n_clones=80, n_unique=30)
    bands = lsh_bands(minhash_signatures(docs, portable=False))
    ref_pairs, ref_dropped = _reference_guard(bands, 50)
    assert ref_dropped.count() > 0
    for threshold in (4, 100):
        salted, dropped = lsh_candidate_pairs(
            bands, max_bucket_size=50, salt_threshold=threshold, salt_grid=4
        )
        _assert_same_rows(salted, ref_pairs)
        _assert_same_rows(dropped, ref_dropped)


def test_guarded_lsh_plan_counts_bucket_sizes_once(spark):
    """The ceiling and the light/heavy split read one (band, bucket)
    size count: the guard adds no count aggregate to the pair plan."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bands = lsh_bands(minhash_signatures(docs, portable=False))

    def n_counts(max_bucket_size):
        pairs, _ = lsh_candidate_pairs(bands, max_bucket_size, salt_threshold=64)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        return plan.count("partial_count(1)")

    assert n_counts(None) > 0
    assert n_counts(1000) == n_counts(None)


def test_grouped_candidate_pairs_equals_plain_path(spark):
    """Round-7 d4 generator: signature grouping + first-collision-band
    filter + chunk-lattice expansion must reproduce the plain
    join+distinct pair set EXACTLY, with zero duplicate rows (the plan
    contains no distinct — uniqueness is by construction). Exercised on
    both the adversarial mega-clone corpus (intra-group expansion,
    heavy/salted path, chunking: chunk_size below the clone count) and
    the driver testdata (inter-group collisions across near-dup sigs),
    with both hash families."""
    from mistral_ocr_app_spark.operators.corpus import (
        grouped_candidate_pairs,
        lsh_bands,
        minhash_signatures,
    )

    cases = [
        (minhash_signatures(_adversarial_docs(spark), portable=False), 16),
        (
            minhash_signatures(
                spark.read.parquet(f"{SF_DIR}/documents.parquet"), portable=True
            ),
            512,
        ),
    ]
    for sigs, chunk in cases:
        plain = _reference_pairs(lsh_bands(sigs))
        grouped = grouped_candidate_pairs(
            sigs, salt_threshold=64, salt_grid=8, chunk_size=chunk
        )
        got = grouped.toPandas()
        assert len(got) == len(got.drop_duplicates())  # no dups by construction
        assert grouped.subtract(plain).count() == 0
        assert plain.subtract(grouped).count() == 0
        assert len(got) == plain.count()


def test_dedup_job_guard_end_to_end(spark):
    """With the guard dropping the clone mega-bucket, the exact-dup path
    still collapses the clones into one cluster — verified pairs change
    only where the guard is SUPPOSED to cut (raw candidate volume)."""
    from dedup_job import exact_pairs, near_dup_pairs

    docs = _adversarial_docs(spark)
    near, dropped = near_dup_pairs(docs, max_bucket_size=50)
    assert dropped.count() >= 1
    pairs = exact_pairs(docs).unionByName(near).distinct()
    mapping = canonicalize(docs, pairs).toPandas()
    clones = mapping[mapping["doc_id"] < 10_000]
    assert (clones["canonical_id"] == 0).all()  # exact path: one cluster
    uniq = mapping[mapping["doc_id"] >= 10_000]
    assert (uniq["canonical_id"] == uniq["doc_id"]).all()
