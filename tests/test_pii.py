"""PII redaction — literal pins, Python-re differential, idempotence."""

import re

from pyspark.sql import functions as F

from mistral_ocr_app_spark.functions.pii import (
    PII_RULES,
    pii_counts,
    redact_pii,
)

CASES = [
    "contact alice.smith+x@corp.example.com today",
    "server at 192.168.0.1 and backup 10.0.0.254",
    "call +44-201-5550123 or +1 555 0199",
    "mixed bob@10.0.0.1.example.org from 172.16.3.9 dial +7-999-12",
    "no pii here at all",
    "a@b.co",
    "edge 999.999.999.999 still shape-matches the ipv4 rule",
]


def _py_redact(text: str) -> str:
    for _, pattern, placeholder in PII_RULES:
        text = re.sub(pattern, placeholder, text)
    return text


def _py_counts(text: str) -> dict[str, int]:
    return {f"n_{k}": len(re.findall(p, text)) for k, p, _ in PII_RULES}


def _run(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    counts = pii_counts(F.col("text"))
    return df.select(
        "i",
        redact_pii(F.col("text")).alias("red"),
        *[c.alias(k) for k, c in counts.items()],
    ).collect()


def test_differential_vs_python_re(spark):
    """Java regex and Python re agree on this dialect subset — the same
    subset the DuckDB RE2 oracle (c3) exercises."""
    rows = _run(spark, CASES)
    for r in rows:
        t = CASES[r["i"]]
        assert r["red"] == _py_redact(t), t
        for k, v in _py_counts(t).items():
            assert r[k] == v, (t, k)


def test_placeholders_and_order(spark):
    rows = {r["i"]: r for r in _run(spark, CASES)}
    assert rows[0]["red"] == "contact <EMAIL> today"
    assert rows[1]["red"] == "server at <IP> and backup <IP>"
    # an IPv4-shaped host inside an email is consumed by the email rule
    assert "<EMAIL>" in rows[3]["red"] and rows[3]["n_email"] == 1
    assert rows[4]["red"] == CASES[4]  # untouched


def test_idempotent(spark):
    once = [r["red"] for r in _run(spark, CASES)]
    twice = [r["red"] for r in _run(spark, once)]
    assert once == twice


def test_filter_job_stage(spark):
    from filter_job import apply_pii_redaction

    df = spark.createDataFrame(
        [(1, "mail me at x@y.org from 10.0.0.1")], "doc_id long, text string"
    )
    out = apply_pii_redaction(df).first()
    assert out["text"] == "mail me at <EMAIL> from <IP>"
    assert (out["q_n_email"], out["q_n_ipv4"], out["q_n_phone"]) == (1, 1, 0)
