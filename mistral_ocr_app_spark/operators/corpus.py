"""Corpus-scale training-data operators: dedup, similarity search, text
analysis — the operations a 100 TB training-data pipeline needs beyond
the reference's own operator set (first-class per the build brief).

Every op here carries a DuckDB oracle. The hash-dependent ones
(MinHash/SimHash/LSH) use an engine-portable hash family — one
md5-derived base hash per token plus affine permutations
``(a_i·h + b_i) mod P`` — instead of Spark-only ``xxhash64``, so the
oracle reproduces signatures bit-for-bit AND the Spark side pays one
digest per token instead of one per (token, permutation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .registry import load, register, spread_scan

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]

# ---- portable universal-hash family (Spark ↔ DuckDB parity) ----
P_HASH = 2147483647  # Mersenne prime 2^31 − 1
_HALF = P_HASH // 2
_MUL, _ADD1, _ADD2 = 2654435761, 40503, 2531011


def md5_int(c):
    """First 60 bits of md5(token) as int64, reduced mod P.

    All intermediates stay < 2^62, so ANSI-mode int64 arithmetic never
    overflows, and the identical value is computable in the DuckDB
    oracle (``_SQL_H``)."""
    return F.pmod(
        F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long"), F.lit(P_HASH)
    )


def affine_hash(h, i):
    """i-th permutation hash ``(a_i·h + b_i) mod P``; ``i`` may be a
    Python int or a Column. a_i odd-multiplier-derived so the family is
    pairwise-independent enough for MinHash/SimHash."""
    a = ((i * 2 + 1) * F.lit(_MUL)) % F.lit(P_HASH)
    b = (i * F.lit(_ADD1) + F.lit(_ADD2)) % F.lit(P_HASH)
    return (a * h + b) % F.lit(P_HASH)


# the same two functions as DuckDB SQL fragments (oracle twins)
_SQL_H = "CAST(concat('0x', substr(md5({t}), 1, 15)) AS BIGINT) % 2147483647"
_SQL_AFF = (
    "((((({i}) * 2 + 1) * 2654435761) % 2147483647) * ({h})"
    " + ((({i}) * 40503 + 2531011) % 2147483647)) % 2147483647"
)


# ------------------------------------------------------------ text stats ---


_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"
_BPE_RE_SQL = _BPE_RE.replace("'", "''")  # SQL string-literal quoting


#: token-window width for the exact-substring dedup columns on c1
SUBSTR_W = 10


@register(
    "c1_token_count",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split(lower(text), ' '),
                            x -> {_SQL_H.format(t='x')}) AS hs
      FROM documents),
    occ AS (
      SELECT doc_id, g.i AS pos,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT), hs[g.i + 1 : g.i + 10]),
               (acc, h) -> (acc * 1000003 + h) % 2147483647) * 2147483648
             + list_reduce(
               list_prepend(CAST(0 AS BIGINT), hs[g.i + 1 : g.i + 10]),
               (acc, h) -> (acc * 1000033 + h) % 2147483647) AS wh
      FROM t CROSS JOIN generate_series(0, 127) g(i)
      WHERE g.i <= len(hs) - 10),
    marked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY wh) AS cnt,
             min(doc_id * 1048576 + pos) OVER (PARTITION BY wh) AS mink
      FROM occ),
    sd AS (
      SELECT doc_id,
             CAST(count(*) AS INT) AS n_windows,
             CAST(sum(CASE WHEN cnt > 1 AND doc_id * 1048576 + pos <> mink
                           THEN 1 ELSE 0 END) AS INT) AS n_dup_windows,
             list_sort(list(CAST(pos AS INT))
                       FILTER (WHERE cnt > 1
                               AND doc_id * 1048576 + pos <> mink))
               AS dup_positions
      FROM marked GROUP BY doc_id),
    contam AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_contam_windows
      FROM occ
      WHERE wh IN (SELECT DISTINCT wh FROM occ WHERE doc_id >= 450)
      GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(d.text, ' '))) AS INT)
             AS n_distinct_tokens,
           CAST(len(regexp_extract_all(d.text, '{_BPE_RE_SQL}')) AS INT) AS n_bpe,
           CAST(len(regexp_extract_all(d.text, ' ?[A-Za-z]+')) AS INT) AS n_words,
           CAST(len(regexp_extract_all(d.text, ' ?[0-9]+')) AS INT) AS n_numbers,
           COALESCE(sd.n_windows, 0) AS n_windows,
           COALESCE(sd.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(array_to_string(sd.dup_positions, ','), '') AS dup_positions,
           COALESCE(c.n_contam_windows, 0) AS n_contam_windows
    FROM documents d LEFT JOIN sd USING (doc_id)
         LEFT JOIN contam c USING (doc_id)
    WHERE d.doc_id < 400
    """,
    "token counting over documents — whitespace tokenizer AND the "
    "BPE-ish regex pretokenizer (contractions / word runs / number runs "
    "/ punctuation runs; lookahead-free so Java and RE2 dialects agree) "
    "— plus exact-substring dedup marking (operators/substring_dedup.py, "
    "Lee-et-al-style hashed 10-token windows, corpus-wide canonical "
    "first occurrence): n_windows / n_dup_windows / dup_positions — "
    "plus benchmark decontamination (operators/decontaminate.py: "
    "held-out slice doc_id>=450 as the eval set, broadcast semi-join "
    "of its window hashes): n_contam_windows",
)
def c1_token_count(spark, sf_dir):
    from .decontaminate import benchmark_window_hashes, contamination_counts
    from .substring_dedup import duplicate_window_stats

    # single-row-group source file: spread before the window-hash
    # explode or its whole map stage runs on one core (guide §2.5)
    all_docs = spread_scan(load(spark, sf_dir, "documents"))
    sd = duplicate_window_stats(all_docs, width=SUBSTR_W)
    bench_hashes = benchmark_window_hashes(
        all_docs.filter(F.col("doc_id") >= 450), width=SUBSTR_W
    )
    contam = contamination_counts(all_docs, bench_hashes, width=SUBSTR_W)
    docs = all_docs.filter(F.col("doc_id") < 400)
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).cast("int").alias("n_bpe"),
        F.size(F.regexp_extract_all("text", F.lit(" ?[A-Za-z]+"), 0))
        .cast("int")
        .alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(" ?[0-9]+"), 0))
        .cast("int")
        .alias("n_numbers"),
    )
    # dup_positions crosses the oracle boundary as a comma-joined string:
    # the driver's comparator sorts/hashes cell values and list-typed
    # cells are not portable across the two engines' pandas mappings
    return (
        base.join(
            sd.withColumn("dup_positions", F.array_join("dup_positions", ",")),
            "doc_id",
        )
        .join(contam.select("doc_id", "n_contam_windows"), "doc_id", "left")
        .withColumn(
            "n_contam_windows",
            F.coalesce("n_contam_windows", F.lit(0)).cast("int"),
        )
    )


@register(
    "c2_quality_score",
    f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                  w -> list_contains({STOPWORDS!r}, w))) AS INT) AS n_stop,
             CAST(length(text) AS INT) AS n_chars
      FROM documents),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE doc_id < 400),
    g2 AS (
      SELECT doc_id, array_to_string(tk[g.i+1 : g.i+2], ' ') AS gram
      FROM toks CROSS JOIN generate_series(0, 127) g(i)
      WHERE g.i <= len(tk) - 2),
    g2s AS (
      SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
      FROM g2 GROUP BY doc_id, gram),
    rep AS (
      SELECT doc_id,
             round(CAST(max(cnt * glen) AS DOUBLE)
                   / sum(cnt * glen), 4) AS top2gram_frac,
             round(CAST(sum(CASE WHEN cnt > 1 THEN cnt * glen ELSE 0 END)
                        AS DOUBLE) / sum(cnt * glen), 4) AS dup2gram_frac
      FROM g2s GROUP BY doc_id)
    SELECT f.doc_id, n_tokens,
           round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
           round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS mean_token_len,
           CASE WHEN n_tokens >= 20
                 AND CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.05 AND 0.6
                THEN 1 ELSE 0 END AS quality_pass,
           CAST(ceil(greatest(n_tokens - 16, 1) / 48.0) AS INT) AS n_chunks,
           COALESCE(r.top2gram_frac, 0.0) AS top2gram_frac,
           COALESCE(r.dup2gram_frac, 0.0) AS dup2gram_frac,
           CASE WHEN COALESCE(r.top2gram_frac, 0.0) <= 0.10
                 AND COALESCE(r.dup2gram_frac, 0.0) <= 0.12
                THEN 1 ELSE 0 END AS repetition_pass
    FROM feats f LEFT JOIN rep r USING (doc_id) WHERE f.doc_id < 400
    """,
    "quality scoring: stopword ratio + length heuristics (C4-style "
    "filters) — plus n_chunks, the closed-form chunk count of "
    "operators/chunking.py chunk_documents(64, 16) (sliding token "
    "windows for the embed→ANN path), plus the Gopher repetition gates "
    "(operators/repetition.py: char-weighted most-common-2-gram and "
    "duplicated-2-gram shares, computed shuffle-free by a sorted-array "
    "run scan while the oracle uses the natural unnest+GROUP BY shape)",
)
def c2_quality_score(spark, sf_dir):
    from .repetition import with_repetition_flags

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    toks = F.split("text", " ")
    stop_arr = F.array([F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks).cast("int")
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast("int")
    stop_ratio = n_stop.cast("double") / n_tokens
    return with_repetition_flags(docs).select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(F.length("text").cast("double") / n_tokens, 4).alias("mean_token_len"),
        F.when((n_tokens >= 20) & stop_ratio.between(0.05, 0.6), 1)
        .otherwise(0)
        .alias("quality_pass"),
        F.ceil(F.greatest(n_tokens - 16, F.lit(1)) / F.lit(48))
        .cast("int")
        .alias("n_chunks"),
        "top2gram_frac",
        "dup2gram_frac",
        F.col("repetition_pass").cast("int").alias("repetition_pass"),
    )


def _pii_sql():
    from ..functions.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
    WITH pii AS (
      SELECT doc_id, lang, text,
             text
             || CASE WHEN doc_id % 3 > 0 THEN ' mail user'
                  || CAST(doc_id AS VARCHAR) || '@ex'
                  || CAST(doc_id % 7 AS VARCHAR) || '.org' ELSE '' END
             || CASE WHEN doc_id % 4 > 0 THEN ' from 10.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                  || CAST(doc_id % 50 AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 5 > 0 THEN ' call +1-555-0'
                  || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS pii_text
      FROM documents WHERE doc_id < 300),
    scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, 'th|he|in|er')) AS en_hits,
             len(regexp_extract_all(text, 'de|la|el|os')) AS es_hits,
             CAST(len(regexp_extract_all(pii_text, '{EMAIL_RE}')) AS INT)
               AS n_email,
             CAST(len(regexp_extract_all(pii_text, '{IPV4_RE}')) AS INT)
               AS n_ipv4,
             CAST(len(regexp_extract_all(pii_text, '{PHONE_RE}')) AS INT)
               AS n_phone,
             regexp_replace(regexp_replace(regexp_replace(pii_text,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{IPV4_RE}', '<IP>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g') AS redacted
      FROM pii)
    SELECT doc_id, lang,
           CASE WHEN en_hits >= es_hits THEN 'latin-en' ELSE 'latin-es' END
             AS guessed_family,
           n_email, n_ipv4, n_phone, redacted
    FROM scored
    """


@register(
    "c3_lang_id_ngram",
    _pii_sql(),
    "language-ID n-gram heuristic (bigram hit counting) — plus the PII "
    "scrub surface (functions/pii.py: email/IPv4/phone redaction chain "
    "+ per-rule counts, value-oracled over a deterministically "
    "synthesized PII tail because the fixture corpus itself carries "
    "none; dialect-portable Java↔RE2 patterns)",
)
def c3_lang_id_ngram(spark, sf_dir):
    from ..functions.pii import pii_counts, redact_pii

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    d = F.col("doc_id")
    email_tail = F.when(
        d % 3 > 0,
        F.concat(
            F.lit(" mail user"), d.cast("string"), F.lit("@ex"),
            (d % 7).cast("string"), F.lit(".org"),
        ),
    ).otherwise("")
    ip_tail = F.when(
        d % 4 > 0,
        F.concat(
            F.lit(" from 10."), (d % 256).cast("string"), F.lit(".0."),
            (d % 50).cast("string"),
        ),
    ).otherwise("")
    phone_tail = F.when(
        d % 5 > 0, F.concat(F.lit(" call +1-555-0"), (d % 100).cast("string"))
    ).otherwise("")
    pii_text = F.concat(F.col("text"), email_tail, ip_tail, phone_tail)
    en = F.size(F.regexp_extract_all("text", F.lit("th|he|in|er"), 0))
    es = F.size(F.regexp_extract_all("text", F.lit("de|la|el|os"), 0))
    counts = pii_counts(pii_text)
    return docs.select(
        "doc_id",
        "lang",
        F.when(en >= es, "latin-en").otherwise("latin-es").alias("guessed_family"),
        counts["n_email"].alias("n_email"),
        counts["n_ipv4"].alias("n_ipv4"),
        counts["n_phone"].alias("n_phone"),
        redact_pii(pii_text).alias("redacted"),
    )


_FP_BASE = 1000003  # polynomial base; acc·B + h stays < 2^52 (ANSI-safe)


@register(
    "c5_rolling_fingerprint",
    f"""
    WITH fp AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(lower(text), ' '),
                                t -> {_SQL_H.format(t='t')})),
               (acc, h) -> (acc * {_FP_BASE} + h) % 2147483647) AS fp
      FROM documents),
    canon AS (
      SELECT fp, CAST(min(doc_id) AS BIGINT) AS canonical_id,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM fp GROUP BY fp)
    SELECT fp, canonical_id, n_copies,
           CASE WHEN {_SQL_H.format(
               t="concat('7:', CAST(canonical_id AS VARCHAR))")}
                < 536870911 THEN 1 ELSE 0 END AS in_sample_25,
           CAST({_SQL_H.format(
               t="concat('s:', CAST(canonical_id AS VARCHAR))")}
                % 16 AS INT) AS shuffle_bucket
    FROM canon
    """,
    "document fingerprinting: polynomial rolling hash over the lowered "
    "token stream (order-sensitive, case/token-exact) — the streaming "
    "analog of d1's full-text hash; groups = rolling-hash dedup classes "
    "— plus the export-side sampling surface (operators/sampling.py): "
    "deterministic 25% sample membership and 16-way shuffle-bucket "
    "assignment of each canonical, pure keyed-hash functions of the "
    "row (reproducible across runs, partitionings and engines — no "
    "rand()/sample() nondeterminism)",
)
def c5_rolling_fingerprint(spark, sf_dir):
    from .sampling import sample_flag, shuffle_bucket

    # per-doc md5 chain over every token: spread the one-split scan
    docs = spread_scan(load(spark, sf_dir, "documents"))
    hs = F.transform(F.split(F.lower("text"), " "), md5_int)
    fp = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(_FP_BASE) + h) % F.lit(P_HASH),
    )
    canon = (
        docs.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    cid = F.col("canonical_id")
    return canon.select(
        "fp",
        "canonical_id",
        "n_copies",
        sample_flag(cid, 0.25, seed="7").cast("int").alias("in_sample_25"),
        shuffle_bucket(cid, 16, seed="s").alias("shuffle_bucket"),
    )


# ----------------------------------------------------------------- dedup ---


@register(
    "d1_exact_dedup",
    """
    SELECT CAST(min(doc_id) AS BIGINT) AS canonical_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           sha256(text) AS text_hash
    FROM documents GROUP BY text HAVING count(*) >= 1
    """,
    "exact dedup: hash-groupBy on full text, canonical = min(doc_id)",
)
def d1_exact_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies", "text_hash")
    )


@register(
    "d2_fingerprint_shingle",
    """
    SELECT fingerprint,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM (
      SELECT doc_id,
             sha256(list_aggr(string_split(lower(text), ' ')[1:5],
                    'string_agg', '§')) AS fingerprint
      FROM documents)
    GROUP BY fingerprint
    """,
    "document fingerprinting: leading-shingle hash → duplicate clusters",
)
def d2_fingerprint_shingle(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    head = F.slice(F.split(F.lower("text"), " "), 1, 5)
    fp = F.sha2(F.array_join(head, "§"), 256)
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "d3_ngram_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id < 300)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.tok, b.tok))), 4) AS jaccard
    FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) /
          len(list_distinct(list_concat(a.tok, b.tok))) >= 0.35
    """,
    "n-gram Jaccard near-dup: blocked self-join (block = source), token-set "
    "similarity; at scale the blocking key becomes the LSH band bucket",
)
def d3_ngram_jaccard_pairs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = docs.select(
        "doc_id", "source", F.array_distinct(F.split("text", " ")).alias("tok")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok"))).cast("double")
    union = F.size(F.array_distinct(F.concat(F.col("a.tok"), F.col("b.tok"))))
    jac = inter / union
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.35)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


N_MINHASH = 16
LSH_BANDS = 4  # 4 rows per band


def minhash_signatures(docs: DataFrame, portable: bool = True) -> DataFrame:
    """MinHash over whitespace shingles: one base hash per token,
    ``N_MINHASH`` affine permutations — all JVM-side column expressions
    (no Python).

    ``portable=True`` (the catalog/oracle path) derives the base hash
    from md5 so DuckDB reproduces signatures bit-for-bit.
    ``portable=False`` (the production path, jobs/dedup_job.py) uses
    ``xxhash64`` — ~4× cheaper per token, same algebraic family, a
    different but equally valid MinHash instance (exact duplicates
    still collide on every band by construction).

    Round-7 note: a vectorized mapInArrow variant of the portable path
    was prototyped (same trick as substring_dedup._window_occurrences)
    and REJECTED by measurement — with the scan spread across the
    cluster the JVM expressions run this stage in ~0.4 s at sf1.0 vs
    ~0.8 s for the Python stage (the 16×n_tokens fold is light enough
    that the Arrow boundary costs more than interpretation; the
    window-occurrence fold at 2×width×n_windows per doc is ~6× heavier
    and keeps the Python win there)."""
    base_hash = (  # md5_int / the xxhash64 family, as SQL text
        f"pmod(CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT), {P_HASH})"
        if portable else f"pmod(xxhash64(t), {P_HASH})"
    )
    # both expressions are parsed once, JVM-side: a Column built from
    # 17 ``F.transform`` lambdas costs hundreds of py4j calls per build
    hs = f"transform(array_distinct(split(lower(text), ' ')), t -> {base_hash})"
    sig = ", ".join(
        f"array_min(transform(hs, h -> ({((i * 2 + 1) * _MUL) % P_HASH} * h"
        f" + {(i * _ADD1 + _ADD2) % P_HASH}) % {P_HASH}))"
        for i in range(N_MINHASH)
    )
    return docs.withColumn("hs", F.expr(hs)).select(
        "doc_id", F.expr(f"array({sig})").alias("sig")
    )

_ROWS_PER_BAND = N_MINHASH // LSH_BANDS


def _bucket_array():
    """array<string> of the LSH_BANDS bucket keys of ``sig`` (each the
    '_'-concatenation of that band's signature rows)."""
    return F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.element_at(
                        "sig", b * _ROWS_PER_BAND + r + 1
                    ).cast("string")
                    for r in range(_ROWS_PER_BAND)
                ],
            )
            for b in range(LSH_BANDS)
        ]
    )


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """MinHash signatures → banded rows (doc_id, band, bucket): the
    bucket key is the concatenation of the band's signature rows."""
    return sigs.select(
        "doc_id",
        F.posexplode(_bucket_array()).alias("band", "bucket"),
    )


def _banded_pairs(bands: DataFrame, grid: int, keep=None) -> DataFrame:
    """Hinted SMJ self-join on (band, bucket) → ordered doc pairs
    (doc_a < doc_b), one row per colliding band that ``keep`` admits.

    Sort-merge, hinted: under small local stats Catalyst would broadcast
    the UNBOUNDED bands relation — a plan that cannot exist at 10^12
    scale — and a groupBy+pair-expansion concentrates each mega-bucket's
    k²/2 pairs into one task (measured 3× slower). SMJ streams pairs and
    AQE skew-join splits hot (band, bucket) partitions.

    ``grid`` > 1 enumerates on a ``grid × grid`` salt lattice. AQE's
    skew-join can split the JOIN's input partitions, but every pair of
    one bucket still carries the same (band, bucket) key, so one reducer
    ultimately streams O(k²) output rows. The lattice is a 2-D block
    decomposition (the block-partitioned pair enumeration of distributed
    subgraph matching): each doc gets a deterministic salt
    i = xxhash64(doc_id) % grid; the LEFT side replicates each row
    across blocks (i, j) for all j, the RIGHT side across (i, j) for all
    i, and the join key becomes (band, bucket, i, j). An unordered pair
    (x, y) meets in exactly ONE block — (salt(x), salt(y)) — so the pair
    set is IDENTICAL to grid 1 (equality-tested), while a hot bucket's
    expansion spreads over grid² reducer keys: max task work drops
    k²→(k/grid)² for grid× row replication per side. Salting is
    deterministic (no rand()), so resume/retry re-derive the same plan.

    ``keep(band, sig_a, sig_b)``: an extra join condition over the two
    sides' ``sig`` columns (the grouped generator's ``_first_collision``);
    on either grid a pair meets once per colliding band."""
    keys = ["band", "bucket"]
    left = right = bands
    if grid > 1:
        seq = F.sequence(F.lit(0), F.lit(grid - 1))
        salted = bands.withColumn(
            "i", F.pmod(F.xxhash64("doc_id"), F.lit(grid)).cast("int")
        )
        left = salted.withColumn("j", F.explode(seq))
        right = salted.withColumnRenamed("i", "j").withColumn("i", F.explode(seq))
        keys += ["i", "j"]
    a, b = left.alias("a"), right.hint("merge").alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col("a.doc_id") < F.col("b.doc_id"))
    if keep is not None:
        on.append(keep(F.col("a.band"), F.col("a.sig"), F.col("b.sig")))
    return a.join(b, on).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


def _split_banded_pairs(
    bands: DataFrame,
    salt_threshold: int,
    salt_grid: int,
    max_bucket_size: int | None = None,
    keep=None,
) -> tuple[DataFrame, DataFrame | None]:
    """Light/heavy split on bucket size → (pairs, dropped).

    Bucket sizes are counted once. Buckets over ``max_bucket_size`` are
    in neither side and come back as the (band, bucket, k) ``dropped``
    relation (``None`` without a ceiling); the guard drops whole
    buckets, so the sizes of the survivors are the same counts. Buckets
    of at most ``salt_threshold`` members take the plain join, the rest
    the ``salt_grid`` lattice (``_banded_pairs``). Both key sets are
    broadcast for the semi/anti joins: they hold at most
    ``n_docs * LSH_BANDS / min(salt_threshold, max_bucket_size)`` rows,
    in practice the skew tail (a handful of stopword-ish buckets); if a
    corpus ever produced a key set too big to broadcast, dropping the
    ``F.broadcast`` wrap degrades both to shuffle semi/anti joins on the
    same key with an unchanged pair set."""
    sizes = bands.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("k"))
    k = F.col("k")
    not_light = heavy = k > salt_threshold
    dropped = None
    if max_bucket_size is not None:
        dropped = sizes.filter(k > max_bucket_size)
        not_light = not_light | (k > max_bucket_size)
        heavy = heavy & (k <= max_bucket_size)

    def split(cond, how):
        keys = F.broadcast(sizes.filter(cond).select("band", "bucket"))
        return bands.join(keys, ["band", "bucket"], how)

    pairs = _banded_pairs(split(not_light, "left_anti"), 1, keep).unionByName(
        _banded_pairs(split(heavy, "left_semi"), salt_grid, keep)
    )
    return pairs, dropped


def lsh_candidate_pairs(
    bands: DataFrame,
    max_bucket_size: int | None = None,
    salt_threshold: int = 64,
    salt_grid: int = 8,
) -> tuple[DataFrame, DataFrame | None]:
    """(band, bucket) self-join → distinct candidate pairs (doc_a < doc_b).

    ``salt_threshold``: buckets with more members than this are
    enumerated on a ``salt_grid²`` block lattice instead of the plain
    self-join (``_banded_pairs``) — same pair set, but a hot bucket's
    quadratic expansion spreads across grid² reducer keys instead of
    one. Measured at sf0.1: 32 buckets exceed 64 members and carry
    11.49M of the 11.55M pre-distinct pairs, the top four (stopword-ish,
    2.1-2.7k docs each) alone ~10.7M — unsalted, those four serialize
    into four tasks. End-to-end candidate generation (warm, best-of-3,
    local[32], sf0.1): 1.85 s salted vs 2.49 s unsalted, despite the
    extra bucket-size pass.

    ``max_bucket_size``: ceiling on bucket membership. AQE spreads a hot
    bucket's JOIN across tasks, but a stopword-like bucket with k members
    still EMITS O(k²) candidate pairs that the downstream Jaccard verify
    must process. Buckets over the ceiling are dropped, not sub-split:
    a bucket that big means the band's signature rows carry almost no
    selectivity for those docs (boilerplate shingles), and any true near-dup
    pair in it collides in its other, selective bands with high
    probability. Returns ``(pairs, dropped)`` where ``dropped`` is the
    (band, bucket, k) relation of dropped buckets — callers MUST surface
    its counts (no silent caps); ``None`` when no ceiling was set.

    The two compose as a layered policy over one bucket-size count
    (``_split_banded_pairs``): drop the truly pathological buckets
    (k > max_bucket_size — near-zero selectivity), salt the merely-heavy
    ones (salt_threshold < k ≤ max_bucket_size — real candidates,
    bounded task size).
    """
    pairs, dropped = _split_banded_pairs(
        bands, salt_threshold, salt_grid, max_bucket_size
    )
    return pairs.distinct(), dropped


# ---- round 7: signature-grouped candidate generation ------------------
# The plain (band, bucket) self-join + ``.distinct()`` enumerates every
# pair once PER COLLIDING BAND and then pays a full shuffle to dedup:
# at sf1.0 that is 1.23e9 generated rows for ~4e8 distinct pairs, and
# the distinct exchange dominated the query (guide §2.3/§2.4 — do fewer
# shuffles, don't compute what you throw away). Two exact contractions
# remove both costs without changing the pair set:
#
# 1. **Signature grouping.** The bucket key of every band is a pure
#    function of ``sig``, so docs with IDENTICAL signatures are
#    interchangeable for candidate generation: group docs by sig
#    (sf1.0: 50k docs → 13,376 groups, hot bucket 26,551 docs → 1,377
#    groups), run the banded self-join on one representative per group
#    (7.7e6 joined rows instead of 1.23e9 — measured 159×), and expand
#    group pairs back to doc pairs afterwards. Intra-group pairs
#    (identical sig ⇒ collide in every band) are emitted directly.
#
# 2. **First-collision-band filter.** A pair of groups colliding in m
#    bands would still be generated m times; instead of ``distinct``,
#    each side carries its full signature and the join keeps a pair
#    only in the FIRST band where the slices collide (``_first_collision``,
#    the ``keep`` condition of the same ``_split_banded_pairs`` /
#    ``_banded_pairs`` join that ``lsh_candidate_pairs`` runs). Every
#    colliding pair survives in exactly one band — and with the
#    expansion emitting each (group, group) combination exactly once,
#    the result is duplicate-free BY CONSTRUCTION and the billion-row
#    distinct exchange disappears outright.
#
# Exactness: pair (a, b) is a candidate iff ∃ band with equal bucket
# keys iff their sig slices are equal in some band — decided entirely
# by (sig(a), sig(b)), which the group representative preserves.
# Equality with the plain self-join + ``distinct`` is pinned by
# tests/test_dedup_cluster.py and the unchanged DuckDB oracle.


def _first_collision(band, sig_a, sig_b):
    """True iff ``band`` is the first band whose signature slices are
    equal: one CASE WHEN over the bands, compared with ``band``."""

    def sl(s, t):
        return F.slice(s, t * _ROWS_PER_BAND + 1, _ROWS_PER_BAND)

    first = F.when(sl(sig_a, 0) == sl(sig_b, 0), 0)
    for t in range(1, LSH_BANDS):
        first = first.when(sl(sig_a, t) == sl(sig_b, t), t)
    return first == band


def grouped_candidate_pairs(
    sigs: DataFrame,
    salt_threshold: int = 64,
    salt_grid: int = 8,
    chunk_size: int = 512,
) -> DataFrame:
    """(doc_id, sig) → distinct LSH candidate doc pairs (doc_a < doc_b),
    duplicate-free by construction (see the block comment above; no
    ``distinct`` anywhere in the plan).

    Shape: one small shuffle groups docs by signature; the banded
    self-join runs over group representatives (the light/heavy split
    and grid salting of ``lsh_candidate_pairs``, with
    ``_first_collision`` as the join's ``keep``); expansion back to
    doc pairs walks a chunk lattice over each group's sorted member
    array — chunk combos are repartitioned by their key before the
    explode so a mega-group's quadratic output spreads over the whole
    cluster instead of one task (guide §2.5), and each task emits at
    most ``chunk_size²`` rows per combo row.

    Exactly-once accounting: an unordered doc pair {x, y} lives in one
    (group, group) combination; inter-group combos are generated once
    (gid_a < gid_b, every member cross pair emitted as least/greatest),
    intra-group combos once per group (sorted members, ca ≤ cb chunk
    triangle, da < db member filter). The member-chunk relation is
    bounded — one row per ``chunk_size`` docs with an ≤8·chunk_size-byte
    array — so at corpus scale it hash-joins instead of broadcasting;
    at bench scale AQE broadcasts it on its own."""
    groups = sigs.groupBy("sig").agg(
        F.min("doc_id").alias("gid"),
        F.array_sort(F.collect_list("doc_id")).alias("members"),
        F.count(F.lit(1)).alias("k"),
    )
    bands = groups.select(
        F.col("gid").alias("doc_id"),
        "sig",
        F.posexplode(_bucket_array()).alias("band", "bucket"),
    )
    gpairs, _ = _split_banded_pairs(
        bands, salt_threshold, salt_grid, keep=_first_collision
    )
    # expansion: (group, group) combos → chunk-lattice → doc pairs
    nc = F.ceil(F.col("k") / chunk_size).cast("int")
    meta = groups.select("gid", nc.alias("nc"))
    chunks = groups.select(
        "gid",
        F.explode(F.sequence(F.lit(0), nc - 1)).alias("cid"),
        "members",
    ).select(
        "gid",
        "cid",
        F.slice(
            "members", F.col("cid") * chunk_size + 1, F.lit(chunk_size)
        ).alias("cm"),
    )
    self_pairs = groups.filter(F.col("k") >= 2).select(
        F.col("gid").alias("gid_a"), F.col("gid").alias("gid_b")
    )
    combos = (
        gpairs.toDF("gid_a", "gid_b")
        .unionByName(self_pairs)
        .join(
            meta.select(F.col("gid").alias("gid_a"), F.col("nc").alias("nca")),
            "gid_a",
        )
        .join(
            meta.select(F.col("gid").alias("gid_b"), F.col("nc").alias("ncb")),
            "gid_b",
        )
        .select(
            "gid_a",
            "gid_b",
            F.explode(F.sequence(F.lit(0), F.col("nca") - 1)).alias("ca"),
            "ncb",
        )
        .select(
            "gid_a",
            "gid_b",
            "ca",
            F.explode(F.sequence(F.lit(0), F.col("ncb") - 1)).alias("cb"),
        )
        # intra-group: upper chunk triangle only (sorted members ⇒ the
        # lower triangle would be entirely filtered by da < db anyway)
        .filter((F.col("gid_a") != F.col("gid_b")) | (F.col("ca") <= F.col("cb")))
    )
    spread = combos.repartition("gid_a", "gid_b", "ca", "cb")
    return (
        spread.join(
            chunks.select(
                F.col("gid").alias("gid_a"),
                F.col("cid").alias("ca"),
                F.col("cm").alias("ma"),
            ),
            ["gid_a", "ca"],
        )
        .join(
            chunks.select(
                F.col("gid").alias("gid_b"),
                F.col("cid").alias("cb"),
                F.col("cm").alias("mb"),
            ),
            ["gid_b", "cb"],
        )
        .select("gid_a", "gid_b", F.explode("ma").alias("da"), "mb")
        .select("gid_a", "gid_b", "da", F.explode("mb").alias("db"))
        .filter((F.col("gid_a") != F.col("gid_b")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
    )


@register(
    "d4_minhash_lsh_candidates",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
      FROM documents),
    hs AS (SELECT doc_id, {_SQL_H.format(t='t')} AS h FROM toks),
    sig AS (
      SELECT doc_id, i, min({_SQL_AFF.format(i='i', h='h')}) AS s
      FROM hs CROSS JOIN generate_series(0, {N_MINHASH - 1}) g(i)
      GROUP BY doc_id, i),
    bands AS (
      SELECT doc_id, i // {N_MINHASH // LSH_BANDS} AS band,
             string_agg(CAST(s AS VARCHAR), '_' ORDER BY i) AS bucket
      FROM sig GROUP BY doc_id, band)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
    "MinHash+LSH near-dup candidates: shingle→minhash→band→bucket join. "
    "Scale path for d3 (no quadratic self-join; shuffle on band buckets)",
)
def d4_minhash_lsh_candidates(spark, sf_dir):
    # no bucket ceiling here: the catalog query is the raw-candidate
    # demo the oracle reproduces exactly; the production path
    # (jobs/dedup_job.py) applies the mega-bucket guard and surfaces
    # its dropped-bucket counts in the job stats. Round 7: the
    # signature-grouped generator — identical pair set (equality-pinned
    # vs the plain path and the oracle), but group-contracted join +
    # first-collision-band filter instead of a billion-row distinct.
    # spread the one-split scan so minhash computation uses the
    # whole cluster — but only above 10k docs: the sig map is light, so
    # at sf0.1 (5k docs) the exchange+stage overhead cost 1.5 s (measured)
    docs = spread_scan(load(spark, sf_dir, "documents"), min_rows=10_000)
    return grouped_candidate_pairs(
        minhash_signatures(docs), salt_threshold=64, salt_grid=8
    )


N_SIMHASH_BITS = 64
SIMHASH_BANDS = 4


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """SimHash signature as an array of 64 sign bits (0/1), all JVM-side.

    Random-hyperplane family: bit b = sign of Σ_tokens ±1, where the ±1
    is whether ``affine_hash(md5_int(token), b)`` lands above P/2 — 64
    affine functions of one base hash per token, bit-identical in the
    DuckDB oracle. (Spark's shiftleft/shiftright need literal shift
    amounts, so the signature stays an array instead of being packed
    into one int64 — arrays band/compare just as well.)"""
    toks = F.array_distinct(F.split(F.lower("text"), " "))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(N_SIMHASH_BITS - 1)),
        lambda b: F.when(
            F.aggregate(
                F.col("hs"),
                F.lit(0),
                lambda acc, h: acc
                + F.when(affine_hash(h, b) > F.lit(_HALF), 1).otherwise(-1),
            )
            > 0,
            1,
        ).otherwise(0),
    )
    return docs.withColumn("hs", F.transform(toks, md5_int)).select(
        "doc_id", sig.alias("sig")
    )


@register(
    "d5_simhash_bands",
    f"""
    WITH docs AS (
      SELECT doc_id,
             list_transform(list_distinct(string_split(lower(text), ' ')),
                            t -> {_SQL_H.format(t='t')}) AS hs
      FROM documents WHERE doc_id < 2000),
    bits AS (
      SELECT doc_id, b,
             CASE WHEN list_sum(list_transform(hs,
                    h -> CASE WHEN {_SQL_AFF.format(i='b', h='h')} > 1073741823
                         THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END AS bit
      FROM docs CROSS JOIN generate_series(0, {N_SIMHASH_BITS - 1}) g(b)),
    sigs AS (SELECT doc_id, list(bit ORDER BY b) AS sig FROM bits GROUP BY doc_id),
    bands AS (
      SELECT doc_id, sig, band,
             array_to_string(sig[band * {N_SIMHASH_BITS // SIMHASH_BANDS} + 1
                                 : (band + 1) * {N_SIMHASH_BITS // SIMHASH_BANDS}],
                             '') AS bucket
      FROM sigs CROSS JOIN generate_series(0, {SIMHASH_BANDS - 1}) g(band)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_filter(list_zip(a.sig, b.sig), p -> p[1] <> p[2])) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
    SELECT DISTINCT doc_a, doc_b, CAST(hamming AS INT) AS hamming
    FROM pairs WHERE hamming <= 3
    """,
    "SimHash near-dup: 64-bit sign signature, 4×16-bit band buckets → "
    "candidate pairs whose signatures differ in ≤ 3 bits (hamming verify)",
)
def d5_simhash_bands(spark, sf_dir):
    # 64 interpreted aggregate passes per doc: spread the one-split scan
    docs = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    )
    sigs = simhash_signatures(docs)
    rows = N_SIMHASH_BITS // SIMHASH_BANDS
    bands = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.array_join(
                        F.transform(
                            F.slice("sig", b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        ),
                        "",
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x - y),
            lambda v: v != 0,
        )
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


# ------------------------------------------------------ similarity search ---


def _cosine_expr(e1, e2):
    """Cosine in float64 throughout (elements cast before multiply) so the
    DuckDB oracle — also computing in DOUBLE — agrees to rounding."""
    dot = F.aggregate(
        F.zip_with(e1, e2, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n1 = F.sqrt(
        F.aggregate(e1, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    n2 = F.sqrt(
        F.aggregate(e2, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (n1 * n2)


@register(
    "e1_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    pairs AS (
      SELECT e.vec_id, e.label,
             CAST(unnest(e.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.qv) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
    sims AS (
      SELECT vec_id, label,
             round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 3)
               AS cos_sim
      FROM pairs GROUP BY vec_id, label)
    SELECT vec_id, label, cos_sim FROM sims
    ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    "brute-force cosine top-k ANN baseline (F.zip_with/aggregate dot product)",
)
def e1_cosine_topk(spark, sf_dir):
    # light map (one interpreted cosine per row): spread only above the
    # break-even row count (measured: sf1.0 0.42->0.20, sf0.1 0.26->0.41
    # with an unconditional spread)
    emb = spread_scan(load(spark, sf_dir, "embeddings"), min_rows=10_000)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cos = _cosine_expr(F.col("embedding"), F.col("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(cos, 3).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
    )


@register(
    "e2_label_centroid_norm",
    """
    WITH dims AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS v
      FROM embeddings),
    cent AS (
      SELECT label, dim, avg(v) AS c FROM dims GROUP BY label, dim)
    SELECT label, round(sqrt(sum(c * c)), 4) AS centroid_norm,
           CAST(count(*) AS BIGINT) AS n_dims
    FROM cent GROUP BY label
    """,
    "per-label centroid (IVF coarse-quantizer training step): "
    "posexplode → avg per (label, dim) → norm",
)
def e2_label_centroid_norm(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    ).select("label", (F.col("dim0") + 1).alias("dim"), F.col("v").cast("double"))
    cent = dims.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    return cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 4).alias("centroid_norm"),
        F.count(F.lit(1)).alias("n_dims"),
    )


@register(
    "d6_embedding_neardup",
    """
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(unnest(a.embedding) AS DOUBLE) AS x,
             CAST(unnest(b.embedding) AS DOUBLE) AS y
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE a.vec_id < 400 AND b.vec_id < 400),
    sims AS (
      SELECT vec_a, vec_b,
             round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 3) AS cos_sim
      FROM pairs GROUP BY vec_a, vec_b)
    SELECT vec_a, vec_b, cos_sim FROM sims WHERE cos_sim >= 0.2
    """,
    "embedding-cosine near-dup pairs: label-blocked self-join (the LSH "
    "bucket stands in for label at scale), float64 cosine, thresholded",
)
def d6_embedding_neardup(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("label"), F.col("embedding").alias("ea")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("label"), F.col("embedding").alias("eb")
    )
    cos = F.round(_cosine_expr(F.col("ea"), F.col("eb")), 3)
    return (
        a.join(b, ["label"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.2)
    )


@register(
    "e3_ivf_bucketed_ann",
    """
    WITH seeds AS (
      SELECT vec_id AS seed_id, embedding AS sv FROM embeddings WHERE vec_id < 8),
    apairs AS (
      SELECT e.vec_id, s.seed_id,
             CAST(unnest(e.embedding) AS DOUBLE) AS x,
             CAST(unnest(s.sv) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN seeds s),
    sims AS (
      SELECT vec_id, seed_id,
             round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS sim
      FROM apairs GROUP BY vec_id, seed_id),
    assigned AS (
      SELECT vec_id, seed_id FROM (
        SELECT vec_id, seed_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, seed_id ASC) AS rk
        FROM sims) WHERE rk = 1),
    q AS (
      SELECT a.seed_id AS qseed, e.embedding AS qv
      FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
      WHERE a.vec_id = 0),
    bucket AS (
      SELECT e.vec_id, e.label,
             CAST(unnest(e.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.qv) AS DOUBLE) AS y
      FROM assigned a
      JOIN embeddings e ON a.vec_id = e.vec_id
      CROSS JOIN q
      WHERE a.seed_id = q.qseed AND e.vec_id <> 0)
    SELECT vec_id, label,
           round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) AS cos_sim
    FROM bucket GROUP BY vec_id, label
    ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """,
    "IVF-style ANN scale path: assign each vector to nearest of K seed "
    "centroids (vec_id 0..7 as seeds), search only the query's bucket. "
    "Assignment sim rounded to 6dp on both engines so float summation "
    "order can't flip the argmax",
)
def e3_ivf_bucketed_ann(spark, sf_dir):
    # interpreted float64 cosine per (vector, seed): spread the scan
    emb = spread_scan(load(spark, sf_dir, "embeddings"))
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("seed_id"), F.col("embedding").alias("sv"))
    )
    cos = _cosine_expr(F.col("embedding"), F.col("sv"))
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "label", "embedding", "seed_id", F.round(cos, 6).alias("sim"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("seed_id"))
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk", "sim")
    )
    # query = vec_id 0; search only its bucket
    qbucket = assigned.filter(F.col("vec_id") == 0).select(
        F.col("seed_id").alias("qseed"), F.col("embedding").alias("qv")
    )
    cos2 = _cosine_expr(F.col("embedding"), F.col("qv"))
    return (
        assigned.join(
            F.broadcast(qbucket), assigned.seed_id == F.col("qseed")
        )
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.round(cos2, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
    )


N_HYPERPLANES = 8
EMB_DIM = 64


def hyperplane_bits(vec):
    """Random-hyperplane LSH signature for an embedding: bit p is the
    sign of ⟨v, w_p⟩ with pseudo-random hyperplanes w_p[d] derived from
    the portable affine hash of (p·DIM + d) — deterministic, no stored
    weight matrix, identical in the DuckDB oracle. The dot is rounded
    to 6dp before the sign test so float summation order can't flip a
    boundary bit."""
    P = F.lit(P_HASH)

    def w(p, d):
        idx = (p * EMB_DIM + d) * 2 + 1
        return (
            ((idx * F.lit(_MUL) + F.lit(_ADD2)) % P).cast("double")
            / F.lit(float(P_HASH))
            - F.lit(0.5)
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(N_HYPERPLANES - 1)),
        lambda p: F.when(
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
                    F.lit(0.0),
                    lambda acc, d: acc
                    + F.element_at(vec, d + F.lit(1)).cast("double") * w(p, d),
                ),
                6,
            )
            > 0,
            1,
        ).otherwise(0),
    )


_SQL_HYPER_BITS = """
      list_transform(generate_series(0, 7), p ->
        CASE WHEN round(list_sum(list_transform(generate_series(0, 63),
          d -> CAST(embedding[d + 1] AS DOUBLE) *
               (CAST((((p * 64 + d) * 2 + 1) * 2654435761 + 2531011)
                     % 2147483647 AS DOUBLE) / 2147483647.0 - 0.5))), 6) > 0
        THEN 1 ELSE 0 END)
"""


@register(
    "e4_hyperplane_lsh_ann",
    f"""
    WITH sigs AS (
      SELECT vec_id, label, embedding,
             array_to_string({_SQL_HYPER_BITS}, '') AS bucket
      FROM embeddings),
    q AS (SELECT bucket AS qbucket, embedding AS qv FROM sigs WHERE vec_id = 0),
    probes AS (
      SELECT qv, qbucket AS probe FROM q
      UNION ALL
      SELECT qv,
             substr(qbucket, 1, i - 1) ||
             (CASE substr(qbucket, i, 1) WHEN '0' THEN '1' ELSE '0' END) ||
             substr(qbucket, i + 1) AS probe
      FROM q CROSS JOIN generate_series(1, {N_HYPERPLANES}) g(i)
      UNION ALL
      SELECT qv,
             substr(qbucket, 1, i - 1) ||
             (CASE substr(qbucket, i, 1) WHEN '0' THEN '1' ELSE '0' END) ||
             substr(qbucket, i + 1, j - i - 1) ||
             (CASE substr(qbucket, j, 1) WHEN '0' THEN '1' ELSE '0' END) ||
             substr(qbucket, j + 1) AS probe
      FROM q CROSS JOIN generate_series(1, {N_HYPERPLANES}) gi(i)
             CROSS JOIN generate_series(1, {N_HYPERPLANES}) gj(j)
      WHERE j > i),
    cand AS (
      SELECT s.vec_id, s.label,
             CAST(unnest(s.embedding) AS DOUBLE) AS x,
             CAST(unnest(p.qv) AS DOUBLE) AS y
      FROM sigs s JOIN probes p ON s.bucket = p.probe
      WHERE s.vec_id <> 0)
    SELECT vec_id, label,
           round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) AS cos_sim
    FROM cand GROUP BY vec_id, label
    ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """,
    "hyperplane-LSH ANN scale path (complement of e3's IVF): 8 sign bits "
    "from deterministic pseudo-random hyperplanes bucket the vectors; "
    "MULTI-PROBE search of the query's bucket plus every bucket within "
    "Hamming distance 2 (1+8+28 = 37 of 256 buckets — measured "
    "recall@10 on this corpus: 0.1 single-probe → 0.4 at h≤1 → 0.5 at "
    "h≤2, scanning ~14% of buckets; h≤3 gave 0.6 for 93/256 — "
    "diminishing, e3's IVF at 0.9 is the high-recall path). Probe "
    "count stays O(bits²) — independent of corpus size, so the probe "
    "relation broadcasts at any scale. No training step, no weight "
    "matrix to ship — hyperplanes are regenerated from the hash family",
)
def e4_hyperplane_lsh_ann(spark, sf_dir):
    # 64 interpreted hyperplane dot products per vector: spread the scan
    emb = spread_scan(load(spark, sf_dir, "embeddings"))
    sigs = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.array_join(
            F.transform(hyperplane_bits(F.col("embedding")), lambda b: b.cast("string")),
            "",
        ).alias("bucket"),
    )
    q = sigs.filter(F.col("vec_id") == 0).select(
        F.col("bucket").alias("qbucket"), F.col("embedding").alias("qv")
    )

    def _flipchar(b, i):  # flipped 1-based char i of the bit string
        return F.when(F.substring(b, i, 1) == "0", F.lit("1")).otherwise(F.lit("0"))

    def _flip(b, i):  # Hamming-1 neighbor: flip position i
        return F.concat(
            F.substring(b, 1, i - 1),
            _flipchar(b, i),
            F.substring(b, i + 1, N_HYPERPLANES),
        )

    def _flip2(b, i, j):  # Hamming-2 neighbor: flip positions i < j
        return F.concat(
            F.substring(b, 1, i - 1),
            _flipchar(b, i),
            F.substring(b, i + 1, j - i - 1),
            _flipchar(b, j),
            F.substring(b, j + 1, N_HYPERPLANES),
        )

    probes = q.select(
        "qv",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[_flip(F.col("qbucket"), i) for i in range(1, N_HYPERPLANES + 1)],
                *[
                    _flip2(F.col("qbucket"), i, j)
                    for i in range(1, N_HYPERPLANES + 1)
                    for j in range(i + 1, N_HYPERPLANES + 1)
                ],
            )
        ).alias("probe"),
    )
    cos = _cosine_expr(F.col("embedding"), F.col("qv"))
    return (
        sigs.join(F.broadcast(probes), sigs.bucket == F.col("probe"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.round(cos, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )
