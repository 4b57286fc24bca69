"""S2 ingestion job: file:// manifest → schema-conformant transcripts
parquet, with the reference's URL guards (GDrive rewrite, size limit,
extension allow-list — app.py:362-406,54-57)."""

import json

import pytest

from ingest_url_list import (
    allowed_url,
    ingest,
    rewrite_gdrive_url,
)


def test_gdrive_rewrite_matches_reference_semantics():
    assert (
        rewrite_gdrive_url("https://drive.google.com/file/d/ABC123/view")
        == "https://drive.google.com/uc?export=download&id=ABC123"
    )
    assert (
        rewrite_gdrive_url("https://drive.google.com/uc?id=XYZ&export=view")
        == "https://drive.google.com/uc?export=download&id=XYZ"
    )
    # non-drive and unparsable drive URLs pass through untouched
    assert rewrite_gdrive_url("https://example.com/a.txt") == "https://example.com/a.txt"
    assert (
        rewrite_gdrive_url("https://drive.google.com/other/path")
        == "https://drive.google.com/other/path"
    )


def test_extension_allowlist():
    assert allowed_url("file:///x/turns.jsonl")
    assert allowed_url("https://h/doc.TXT")
    assert not allowed_url("https://h/archive.zip")
    assert not allowed_url("https://h/noext")


@pytest.fixture()
def manifest(tmp_path):
    jsonl = tmp_path / "turns.jsonl"
    jsonl.write_text(
        "\n".join(
            json.dumps(
                {"conv_id": "c1", "turn_idx": i, "role": "user", "text": f"turn {i}"}
            )
            for i in range(3)
        )
    )
    doc = tmp_path / "doc.txt"
    doc.write_text("first paragraph\n\nsecond paragraph\n\nthird")
    big = tmp_path / "big.txt"
    big.write_text("x" * 5000)
    bad = tmp_path / "binary.zip"
    bad.write_bytes(b"PK\x03\x04")
    m = tmp_path / "urls.txt"
    m.write_text(
        "# manifest\n"
        f"{jsonl.as_uri()}\n{doc.as_uri()}\n{big.as_uri()}\n{bad.as_uri()}\n"
    )
    return m


def test_ingest_end_to_end(spark, manifest, tmp_path):
    out = str(tmp_path / "transcripts")
    stats = ingest(spark, str(manifest), out, max_bytes=4000)

    assert stats["n_urls"] == 4
    assert stats["n_fetched"] == 2  # big.txt over limit, .zip disallowed
    assert stats["n_rejected"] == 2
    errs = {e["url"].rsplit("/", 1)[1]: e["err"] for e in stats["errors"]}
    assert "limit" in errs["big.txt"]
    assert "extension" in errs["binary.zip"]

    from mistral_ocr_app_spark.sources.io import TRANSCRIPT_SCHEMA, read_transcripts

    t = read_transcripts(spark, out)
    # parquet scans force nullable=True; names and types must match exactly
    assert [(f.name, f.dataType) for f in t.schema.fields] == [
        (f.name, f.dataType) for f in TRANSCRIPT_SCHEMA.fields
    ]
    pdf = t.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert stats["n_turns"] == len(pdf) == 6  # 3 jsonl turns + 3 paragraphs
    assert list(pdf[pdf["conv_id"] == "c1"]["text"]) == ["turn 0", "turn 1", "turn 2"]
    para_conv = pdf[pdf["conv_id"] != "c1"]
    assert para_conv["conv_id"].nunique() == 1
    assert para_conv["conv_id"].iloc[0].startswith("url-")
    assert list(para_conv["role"]) == ["user", "assistant", "user"]

    # the landed table feeds the extraction engine directly
    from mistral_ocr_app_spark.operators.extract import extract_turns

    assert extract_turns(t).count() == 6


def test_malformed_payload_contained_per_url(spark, tmp_path):
    """ADVICE r3: a payload that fetches fine but fails to PARSE (bad
    JSON, missing turn_idx) is rejected per-URL — it must not abort the
    batch, matching the fetch-error containment."""
    good = tmp_path / "good.jsonl"
    good.write_text(json.dumps({"conv_id": "g", "turn_idx": 0, "text": "ok"}))
    bad_json = tmp_path / "bad.jsonl"
    bad_json.write_text('{"conv_id": "b", "turn_idx": 0, "text": "tru')  # cut
    no_idx = tmp_path / "noidx.jsonl"
    no_idx.write_text(json.dumps({"conv_id": "n", "text": "missing idx"}))
    m = tmp_path / "urls.txt"
    m.write_text("\n".join(p.as_uri() for p in (good, bad_json, no_idx)))

    stats = ingest(spark, str(m), str(tmp_path / "out"))
    assert stats["n_fetched"] == 1 and stats["n_rejected"] == 2
    errs = {e["url"].rsplit("/", 1)[1]: e["err"] for e in stats["errors"]}
    assert errs["bad.jsonl"].startswith("parse:")
    assert errs["noidx.jsonl"].startswith("parse:")
    pdf = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert list(pdf["conv_id"]) == ["g"] and stats["n_turns"] == 1


def test_batched_flush_identical_to_single(spark, tmp_path):
    """Batch-flush (driver memory bounded by flush window): flushing
    every 3 URLs lands exactly the same data and stats as one flush."""
    files = []
    for k in range(10):
        p = tmp_path / f"doc{k:02d}.txt"
        p.write_text("\n\n".join(f"doc {k} para {j}" for j in range(4)))
        files.append(p.as_uri())
    m = tmp_path / "urls.txt"
    m.write_text("\n".join(files))

    out_one, out_batched = str(tmp_path / "one"), str(tmp_path / "batched")
    stats_one = ingest(spark, str(m), out_one, flush_every=0)
    stats_batched = ingest(spark, str(m), out_batched, flush_every=3)
    assert stats_one == stats_batched
    assert stats_batched["n_turns"] == 40
    a = (spark.read.parquet(out_one).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    b = (spark.read.parquet(out_batched).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert a.equals(b)
    # append mode really produced multiple independent part batches
    import glob
    assert len(glob.glob(out_batched + "/part-*")) > len(glob.glob(out_one + "/part-*"))


def test_empty_manifest_lands_empty_table(spark, tmp_path):
    m = tmp_path / "urls.txt"
    m.write_text("# nothing here\n")
    out = str(tmp_path / "out")
    stats = ingest(spark, str(m), out)
    assert stats == {"n_urls": 0, "n_fetched": 0, "n_rejected": 0,
                     "n_turns": 0, "errors": [], "n_errors_truncated": 0}
    assert spark.read.parquet(out).count() == 0  # schema-complete empty table


def test_error_cap_streams_overflow_to_sidecar(spark, tmp_path):
    """ADVICE r4: retained error records cap at max_errors so a mostly-
    failing 10^6-URL manifest cannot grow driver memory; n_rejected
    stays exact and the overflow streams to <output>_errors.jsonl."""
    urls = [(tmp_path / f"missing{k}.txt").as_uri() for k in range(7)]
    m = tmp_path / "urls.txt"
    m.write_text("\n".join(urls))
    out = str(tmp_path / "out")
    stats = ingest(spark, str(m), out, max_errors=3)
    assert stats["n_rejected"] == 7 and len(stats["errors"]) == 3
    assert stats["n_errors_truncated"] == 4
    sidecar = [json.loads(line) for line in
               open(out + "_errors.jsonl").read().splitlines()]
    assert len(sidecar) == 4
    # retained + streamed = every rejected URL, in manifest order
    all_urls = [e["url"] for e in stats["errors"]] + [e["url"] for e in sidecar]
    assert all_urls == urls


def test_parallel_ingest_identical_to_sequential(spark, tmp_path):
    """Bounded driver-side thread pool: same rows, same stats, same
    error list as workers=1 — manifest order is preserved, so the
    landed parquet is byte-identical regardless of completion order."""
    files = []
    for k in range(12):
        p = tmp_path / f"doc{k:02d}.txt"
        p.write_text("\n\n".join(f"doc {k} paragraph {j}" for j in range(3)))
        files.append(p.as_uri())
    files.insert(4, (tmp_path / "nope.zip").as_uri())  # rejected mid-list
    m = tmp_path / "urls.txt"
    m.write_text("\n".join(files))

    out_seq, out_par = str(tmp_path / "seq"), str(tmp_path / "par")
    stats_seq = ingest(spark, str(m), out_seq, workers=1)
    stats_par = ingest(spark, str(m), out_par, workers=8)

    assert stats_seq == stats_par
    assert stats_par["n_fetched"] == 12 and stats_par["n_rejected"] == 1
    a = (spark.read.parquet(out_seq).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    b = (spark.read.parquet(out_par).toPandas()
         .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert a.equals(b)
    assert len(a) == 36
