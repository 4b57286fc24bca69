"""The benchmark workloads: warm pass, timed job, correctness check and
the traced run's per-layer probes.

Timed jobs call only job-level entry points of the program
(``run_extraction_with_lineage``, ``verify_lineage``, ``assemble_auto``,
``exact_pairs``, ``near_dup_pairs``, ``canonicalize`` and its connected
components, ``incremental_dedup``). Only the traced run's prefix probes
reach inner symbols; a probe whose symbol is gone reports its layer
absent instead of failing.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
from dataclasses import dataclass
from statistics import median
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a probe whose inner symbol was renamed, removed or re-signatured
ABSENT_ERRORS = (AttributeError, ImportError, TypeError)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dedup_job():
    """jobs/dedup_job.py is a script, not a package module."""
    jobs = os.path.join(ROOT, "jobs")
    if jobs not in sys.path:
        sys.path.insert(0, jobs)
    import dedup_job

    return dedup_job


def _mismatch_if(cond: bool, msg: str) -> list[str]:
    return [msg] if cond else []


@dataclass
class Workload:
    name: str
    warm: Callable  # (spark, inp, tracer): full-width pass over a small slice
    job: Callable  # (spark, inp, tracer): one iteration, outputs under run_dir
    check: Callable  # (spark, inp) -> mismatches in the last iteration's outputs
    layers: Callable  # (spark, inp, tracer, traced spans) -> (metrics, absent)
    # per-layer self times that, with unattributed.s, sum to trace.job_s
    self_times: tuple[str, ...]
    # untimed runs of the job before the timed loop: a fresh JVM keeps
    # compiling for several iterations (measured per iteration on a
    # 4-core VM: commit_resume 13.0, 7.6, 6.2, 5.9, 5.6 then ~5.3 s;
    # docs_dedup 8.5, 7.2 then ~6.8 s after its state build). Two runs,
    # or the state build and one run, take the steep part of that
    # curve out of the timed loop within the run-time budget
    warm_iterations: int
    # (spark, inp, tracer): untimed, before the warm iterations
    prepare: Callable = lambda spark, inp, tracer: None


# ------------------------------------------------------- shared probes ----


class Probes:
    """Cumulative plan prefixes, each run once with the noop sink. A
    layer's self time is its prefix minus the last present prefix before
    it; so are its engine metrics."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.metrics: dict[str, float] = {}
        self.absent: list[str] = []
        self._last: dict[str, float] = {}

    def prefix(self, layer: str, build: Callable) -> None:
        try:
            df = build()
        except ABSENT_ERRORS as e:
            self.absent.append(f"{layer}: {type(e).__name__}: {e}")
            return
        _, rec = self.tracer.timed(f"probe.{layer}", lambda: noop(df))
        cur = {"s": rec["duration_s"], **rec.get("engine", {})}
        for k, v in cur.items():
            self.metrics[f"{layer}.{k}"] = v if k == "task_skew" else v - self._last.get(k, 0.0)
        self._last = cur


def span_medians(spans: list[dict], names: tuple[str, ...]) -> dict:
    """Median duration and engine metrics of each named span over the
    traced job iterations."""
    out = {}
    for name in names:
        recs = [s for s in spans if s["name"] == name]
        if recs:
            out[f"{name}.s"] = median(r["duration_s"] for r in recs)
            for k in recs[0].get("engine", {}):
                out[f"{name}.{k}"] = median(r["engine"][k] for r in recs)
    return out


def body_probe(sample_path: str, input_rows: int) -> tuple[dict, float, list[str]]:
    """functions/* worker bodies timed on the driver over a fixed sample:
    seconds and rows per payload kind, and the body core-seconds the
    sample implies for ``input_rows`` rows of the same mix."""
    import pandas as pd

    try:
        from mistral_ocr_app_spark.functions import html_strip, markdown as md, spans as sp
        from mistral_ocr_app_spark.functions.classify import classify_payload

        parsers = {
            "markdown": ("markdown", md.rewrite_markdown_links),
            "document": ("doc", lambda t, ti: md.extract_mock_document(t)),
            "html": ("html", lambda t, ti: html_strip.strip_boilerplate(t)),
            "base64": ("base64", lambda t, ti: md.parse_base64_payload(t)),
        }
        span_stats = sp.span_text_stats
    except ABSENT_ERRORS as e:
        return {}, 0.0, [f"body: {type(e).__name__}: {e}"]

    sample = pd.read_parquet(sample_path, columns=["text", "tool", "turn_idx"])
    rows = list(zip(sample["text"], sample["tool"], sample["turn_idx"]))
    metrics: dict[str, float] = {}

    def timed(label, fn, items):
        t0 = time.perf_counter()
        for args in items:
            fn(*args)
        metrics[f"body.{label}.s"] = time.perf_counter() - t0
        metrics[f"body.{label}.rows"] = len(items)

    texts = [(t, ti) for t, tool, ti in rows if not tool]
    timed("spans", span_stats, [(tool,) for _, tool, _ in rows if tool])
    timed("classify", lambda t, ti: classify_payload(t), texts)
    by_kind: dict[str, list] = {k: [] for k in parsers}
    for t, ti in texts:
        by_kind.get(classify_payload(t), []).append((t, ti))
    for kind, (label, fn) in parsers.items():
        timed(label, fn, by_kind[kind])
    body_s = sum(v for k, v in metrics.items() if k.endswith(".s"))
    return metrics, body_s * input_rows / len(rows), []


# ------------------------------------------------------- commit_resume ----

# fewer buckets than the 64 default: at this input size 64 buckets make
# every bucket a few tiny files and the job measures only file overhead
COMMIT_BUCKETS = 16
KILL_AFTER = COMMIT_BUCKETS // 2
# extract_job's --auto-threshold knob, lowered with the input size so
# the heavy conversations take the chunked route; the chunk size keeps
# the default's 16x ratio
ASSEMBLE_THRESHOLD = 1024
ASSEMBLE_CHUNK = 64
TURN_FIELDS = ("kind", "extracted_text", "n_refs", "n_images", "n_rewritten", "n_spans", "valid")


def _read_transcripts(spark, path):
    from mistral_ocr_app_spark.sources.io import read_transcripts

    return read_transcripts(spark, path)


def _extract(spark, path):
    from mistral_ocr_app_spark.operators.extract import extract_turns

    return extract_turns(_read_transcripts(spark, path))


def _legs(spark, path: str, out: str, tracer, between: Callable | None = None):
    """Simulated kill after half the buckets, a resume to completion and
    the lineage audit: (killed leg stats, resume leg stats, buckets the
    audit flags)."""
    from mistral_ocr_app_spark.plans.lineage import (
        run_extraction_with_lineage,
        verify_lineage,
    )

    shutil.rmtree(out, ignore_errors=True)
    with tracer.span("commit"):
        first = run_extraction_with_lineage(
            spark, path, out, n_buckets=COMMIT_BUCKETS, fail_after_buckets=KILL_AFTER
        )
    if between is not None:
        between()
    with tracer.span("resume"):
        second = run_extraction_with_lineage(spark, path, out, n_buckets=COMMIT_BUCKETS)
    with tracer.span("audit"):
        n_bad = verify_lineage(spark, out).count()
    return first, second, n_bad


def _leg_mismatches(first: dict, second: dict, n_bad: int) -> list[str]:
    """The killed leg commits exactly KILL_AFTER buckets; the resume
    leg commits every bucket still pending and nothing else."""
    rest = second["n_pending"]
    want = (
        {"n_pending": KILL_AFTER, "n_committed_before": 0, "n_committed_now": KILL_AFTER},
        {"n_pending": rest, "n_committed_before": KILL_AFTER, "n_committed_now": rest},
    )
    return (
        _mismatch_if(first != want[0], f"killed leg returned {first}, expected {want[0]}")
        + _mismatch_if(
            second != want[1] or KILL_AFTER + rest > COMMIT_BUCKETS,
            f"resume leg returned {second}, expected {want[1]}",
        )
        + _mismatch_if(n_bad != 0, f"verify_lineage reported {n_bad} mismatching buckets")
    )


def _assembled(spark, out: str):
    from mistral_ocr_app_spark.operators.assemble import assemble_auto

    return assemble_auto(
        spark.read.parquet(os.path.join(out, "data")),
        threshold_turns=ASSEMBLE_THRESHOLD,
        chunk_size=ASSEMBLE_CHUNK,
    )


def commit_warm(spark, inp, tracer) -> None:
    """Spawns a Python worker on every core: the extractor over a small
    slice with one split per core."""
    noop(_extract(spark, os.path.join(inp["dir"], "warm")))


def commit_job(spark, inp, tracer) -> None:
    """extract_job with --assemble, killed after half the buckets and
    resubmitted: commit, resume, audit, then assemble the committed
    per-turn table (parquet-backed, as extract_job reads it back)."""
    out = os.path.join(inp["run_dir"], "out")
    mism = _leg_mismatches(*_legs(spark, inp["path"], out, tracer))
    if mism:
        raise AssertionError("; ".join(mism))
    with tracer.span("assemble"):
        noop(_assembled(spark, out))


def _turn_fingerprint(df) -> tuple:
    """(rows, xor of xxhash64, xor of murmur3) over every per-turn field:
    equal for equal row sets, computed in one scan without a shuffle."""
    from pyspark.sql import functions as F

    cols = [
        F.col("conv_id"),
        F.col("turn_idx").cast("int"),
        F.col("kind"),
        F.col("extracted_text"),
        *[F.col(c).cast("long") for c in ("n_refs", "n_images", "n_rewritten", "n_spans")],
        F.col("valid").cast("boolean"),
    ]
    return tuple(
        df.select(F.xxhash64(*cols).alias("h1"), F.hash(*cols).alias("h2"))
        .agg(F.count(F.lit(1)), F.expr("bit_xor(h1)"), F.expr("bit_xor(h2)"))
        .first()
    )


def turn_mismatches(spark, got, golden_path: str) -> list[str]:
    """Per-turn golden equality on every extracted field. On a
    fingerprint mismatch, a join names the differing turns."""
    from pyspark.sql import functions as F

    gold = spark.read.parquet(golden_path)
    if _turn_fingerprint(got) == _turn_fingerprint(gold):
        return []
    g = got.select("conv_id", "turn_idx", *[F.col(c).alias("g_" + c) for c in TURN_FIELDS])
    differs = F.lit(False)
    for c in TURN_FIELDS:
        differs = differs | ~F.col("g_" + c).eqNullSafe(F.col(c))
    bad = g.join(gold, ["conv_id", "turn_idx"], "full_outer").filter(differs)
    sample = [tuple(r) for r in bad.select("conv_id", "turn_idx").limit(3).collect()]
    return [f"{bad.count()} turns differ from golden, e.g. {sample}"]


def _sha(s: str | None) -> str:
    return hashlib.sha256((s or "").encode("utf-8")).hexdigest()


def assembled_mismatches(assembled, golden_path: str) -> list[str]:
    """combined_app / combined_cli equal to the golden assembly, compared
    by sha256 so the long strings stay in the JVM."""
    import pandas as pd
    from pyspark.sql import functions as F

    got = (
        assembled.select(
            "conv_id",
            "n_turns",
            F.sha2(F.coalesce("combined_app", F.lit("")), 256).alias("app"),
            F.sha2(F.coalesce("combined_cli", F.lit("")), 256).alias("cli"),
        )
        .toPandas()
        .set_index("conv_id")
    )
    gold = pd.read_parquet(golden_path).set_index("conv_id")
    if set(got.index) != set(gold.index):
        return [f"conversation sets differ: {len(got)} assembled, {len(gold)} golden"]
    bad = [
        c
        for c in gold.index
        if got.at[c, "n_turns"] != gold.at[c, "n_turns"]
        or got.at[c, "app"] != _sha(gold.at[c, "combined_app"])
        or got.at[c, "cli"] != _sha(gold.at[c, "combined_cli"])
    ]
    return _mismatch_if(bool(bad), f"{len(bad)} conversations differ from golden, e.g. {bad[:3]}")


def commit_check(spark, inp) -> list[str]:
    """The committed data/ against the per-turn golden, and its assembly
    against the per-conversation golden."""
    out = os.path.join(inp["run_dir"], "out")
    data = spark.read.parquet(os.path.join(out, "data"))
    return turn_mismatches(
        spark, data, os.path.join(inp["dir"], "golden_turns")
    ) + assembled_mismatches(_assembled(spark, out), os.path.join(inp["dir"], "golden_convs"))


def _parquet_stats(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def commit_layers(spark, inp, tracer, spans) -> tuple[dict, list[str]]:
    """Span medians of the traced iterations; one probe iteration that
    times the resume leg's pending set and counts its useful work; and
    the scan -> extract prefixes and worker-body pass over the input."""
    from pyspark.sql import functions as F

    from mistral_ocr_app_spark.plans.lineage import committed_buckets, pending_transcripts

    m = span_medians(spans, ("commit", "resume", "audit", "assemble"))
    out = os.path.join(inp["run_dir"], "probe")
    lineage = os.path.join(out, "_lineage")
    first_leg: list[int] = []

    def pending():
        first_leg.extend(committed_buckets(spark, lineage))
        pend = pending_transcripts(spark, inp["path"], lineage, COMMIT_BUCKETS)
        n, rec = tracer.timed("probe.resume.pending", pend.count)
        m["resume.pending_s"] = rec["duration_s"]
        m["resume.rows_pending"] = n

    _, _, m["audit.mismatches"] = _legs(spark, inp["path"], out, tracer, between=pending)
    lin = spark.read.parquet(lineage)
    m["resume.rows_rerun"] = (
        lin.filter(~F.col("bucket").isin(first_leg)).agg(F.sum("n_turns")).first()[0]
    )
    m["commit.buckets"] = lin.count()
    m["commit.files"], nbytes = _parquet_stats(out)
    m["commit.mb_written"] = nbytes / 2**20
    m["assemble.heavy_convs"] = (
        spark.read.parquet(os.path.join(out, "data"))
        .groupBy("conv_id")
        .count()
        .filter(F.col("count") > ASSEMBLE_THRESHOLD)
        .count()
    )

    probes = Probes(tracer)
    probes.prefix("scan", lambda: _read_transcripts(spark, inp["path"]))
    probes.prefix("extract", lambda: _extract(spark, inp["path"]))
    m.update(probes.metrics)
    scan = _read_transcripts(spark, inp["path"])
    m["scan.rows"] = m["extract.rows_in"] = scan.count()
    m["scan.splits"] = scan.rdd.getNumPartitions()
    m["extract.rows_out"] = _extract(spark, inp["path"]).count()
    body, body_core_s, absent = body_probe(os.path.join(inp["dir"], "warm"), inp["rows"])
    m.update(body)
    if body and "extract.task_s" in m:
        m["extract.boundary_s"] = m["extract.task_s"] - body_core_s
    return m, probes.absent + absent


# ---------------------------------------------------------- docs_dedup ----


def full_mapping(spark, docs):
    """The dedup job's full-corpus chain, as ``dedup_job.main`` runs it."""
    from mistral_ocr_app_spark.operators.dedup_cluster import canonicalize

    dj = _dedup_job()
    near, _ = dj.near_dup_pairs(docs)
    return canonicalize(docs, dj.exact_pairs(docs).unionByName(near).distinct())


def incremental_mapping(spark, inp):
    mapping, _ = _dedup_job().incremental_dedup(
        spark,
        spark.read.parquet(os.path.join(inp["dir"], "new")),
        spark.read.parquet(os.path.join(inp["dir"], "committed")),
        inp["state_dir"],
    )
    return mapping


def dedup_prepare(spark, inp, tracer) -> None:
    """Committed state from the 80 % split, built in every run by the
    program's own full-corpus chain and ``write_dedup_state`` (never
    cached, so it is always the state this program writes)."""
    inp["state_dir"] = os.path.join(inp["run_dir"], "state")
    committed = spark.read.parquet(os.path.join(inp["dir"], "committed"))
    mapping_dir = os.path.join(inp["run_dir"], "committed_mapping")
    full_mapping(spark, committed).write.mode("overwrite").parquet(mapping_dir)
    _dedup_job().write_dedup_state(committed, spark.read.parquet(mapping_dir), inp["state_dir"])


def dedup_warm(spark, inp, tracer) -> None:
    """Exact-duplicate pairs over a small slice, one split per core."""
    noop(_dedup_job().exact_pairs(spark.read.parquet(os.path.join(inp["dir"], "warm"))))


def dedup_job(spark, inp, tracer) -> None:
    """Both mappings written as parquet, as ``dedup_job.main`` does."""
    with tracer.span("full"):
        full_mapping(spark, spark.read.parquet(inp["path"])).write.mode("overwrite").parquet(
            os.path.join(inp["run_dir"], "full")
        )
    with tracer.span("incremental"):
        incremental_mapping(spark, inp).write.mode("overwrite").parquet(
            os.path.join(inp["run_dir"], "incremental")
        )


def _read_mapping(path: str):
    import pandas as pd

    return (
        pd.read_parquet(path, columns=["doc_id", "canonical_id", "is_canonical"])
        .astype({"doc_id": "int64", "canonical_id": "int64", "is_canonical": "bool"})
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def dedup_check(spark, inp) -> list[str]:
    """The incremental mapping equals the full-corpus mapping; exact
    duplicate pairs equal an independent pandas sha256 groupby."""
    import pandas as pd

    full = _read_mapping(os.path.join(inp["run_dir"], "full"))
    incr = _read_mapping(os.path.join(inp["run_dir"], "incremental"))
    mism = []
    if not full.equals(incr):
        both = full.merge(incr, on="doc_id", how="outer", suffixes=("", "_incr"))
        n = int((both["canonical_id"] != both["canonical_id_incr"]).sum())
        mism.append(f"incremental mapping differs from the full mapping on {n} docs")

    pdf = pd.read_parquet(inp["path"], columns=["doc_id", "text"])
    digest = pdf["text"].map(lambda t: hashlib.sha256(t.encode("utf-8")).hexdigest())
    rep = pdf.groupby(digest)["doc_id"].transform("min")
    dup = pdf["doc_id"] != rep
    want = set(zip(rep[dup].tolist(), pdf["doc_id"][dup].tolist()))
    docs = spark.read.parquet(inp["path"])
    got = {(r[0], r[1]) for r in _dedup_job().exact_pairs(docs).collect()}
    return mism + _mismatch_if(
        got != want,
        f"exact pairs differ from a sha256 groupby: {len(got - want)} extra, "
        f"{len(want - got)} missing",
    )


def dedup_layers(spark, inp, tracer, spans) -> tuple[dict, list[str]]:
    """Prefixes scan -> exact pairs, and minhash -> bands + candidates ->
    verified pairs; cluster.s is the traced full chain minus both."""
    dj = _dedup_job()
    docs = spark.read.parquet(inp["path"])

    def minhash():
        from mistral_ocr_app_spark.operators.corpus import minhash_signatures

        return minhash_signatures(docs, portable=False)

    def candidates():
        from mistral_ocr_app_spark.operators.corpus import lsh_bands, lsh_candidate_pairs

        return lsh_candidate_pairs(
            lsh_bands(minhash()), dj.DEFAULT_MAX_BUCKET, salt_threshold=dj.DEFAULT_SALT_THRESHOLD
        )

    scan_exact = Probes(tracer)
    scan_exact.prefix("scan", lambda: docs)
    scan_exact.prefix("exact", lambda: dj.exact_pairs(docs))
    # a second prefix chain; it starts from an empty plan, so its first
    # present layer also holds the scan, which is taken out below
    near = Probes(tracer)
    near.prefix("minhash", minhash)
    near.prefix("lsh", lambda: candidates()[0])
    near.prefix("verify", lambda: dj.near_dup_pairs(docs)[0])
    m = {**scan_exact.metrics, **near.metrics}
    first = next(k[: -len(".s")] for k in near.metrics if k.endswith(".s"))
    for k, v in scan_exact.metrics.items():
        if k.startswith("scan.") and k != "scan.task_skew":
            m[first + k[len("scan"):]] -= v

    # cluster.* is the traced full chain minus the prefix layers it
    # contains, engine metrics as well as time
    m.update(span_medians(spans, ("full", "incremental")))
    m.pop("full.task_skew", None)
    for k in [k for k in m if k.startswith("full.")]:
        metric = k[len("full."):]
        m["cluster." + metric] = m.pop(k) - sum(
            m.get(f"{layer}.{metric}", 0.0)
            for layer in ("scan", "exact", "minhash", "lsh", "verify")
        )

    m["scan.rows"] = docs.count()
    m["scan.splits"] = docs.rdd.getNumPartitions()
    m["verify.pairs"] = dj.near_dup_pairs(docs)[0].count()
    try:
        cand, dropped = candidates()
    except ABSENT_ERRORS:
        return m, scan_exact.absent + near.absent
    m["lsh.candidates"] = cand.count()
    m["lsh.dropped_buckets"] = dropped.count() if dropped is not None else 0
    m["verify.yield"] = m["verify.pairs"] / max(m["lsh.candidates"], 1)
    return m, scan_exact.absent + near.absent


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="commit_resume",
            warm=commit_warm,
            job=commit_job,
            check=commit_check,
            layers=commit_layers,
            self_times=("commit.s", "resume.s", "audit.s", "assemble.s"),
            warm_iterations=2,
        ),
        Workload(
            name="docs_dedup",
            warm=dedup_warm,
            job=dedup_job,
            check=dedup_check,
            layers=dedup_layers,
            self_times=(
                "scan.s", "exact.s", "minhash.s", "lsh.s", "verify.s", "cluster.s",
                "incremental.s",
            ),
            warm_iterations=1,
            prepare=dedup_prepare,
        ),
    )
}
