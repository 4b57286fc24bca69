#!/usr/bin/env python
"""S2 ingestion job — URL manifest → schema-conformant transcripts parquet.

The reference downloads uploads synchronously inside a Flask request
(``download_file_from_url``, app.py:379-406: GDrive rewrite, 30 s
timeout, Content-Length size guard). At corpus scale ingestion is an
OUT-OF-BAND driver-side job — the engine's invariant is that executors
never do per-row network I/O — so this job fetches the manifest's URLs
on the driver, validates them with the same guards, parses each payload
into transcript turns, and lands one parquet table the extraction job
(`jobs/extract_job.py`) can consume.

Reference semantics mirrored (file:line cited for parity, no code copied):
  * GDrive URL rewrite (S3)     — app.py:362-376 (/file/d/<id> and /uc?id=)
  * 30 s timeout                — app.py:382
  * size guard (F2)             — app.py:393-395 (Content-Length header);
                                  we ALSO cap the streamed bytes — the
                                  reference trusts the header
  * extension allow-list (F1)   — app.py:54-57 (lowercased rsplit)

Payload parsing (deterministic, no randomness — SURVEY §2.8 X13):
  * ``.jsonl`` — one JSON turn per line: {conv_id, turn_idx, role, text,
    tool?, ts?}; missing ts → epoch + turn_idx minutes
  * ``.txt`` / ``.md`` — one conversation per document (conv_id =
    sha256(url)[:16]), one turn per blank-line-separated paragraph,
    roles cycling user/assistant

Usage:
    spark-submit jobs/ingest_url_list.py \\
        --manifest /path/to/urls.txt --output /path/to/transcripts \\
        [--max-bytes 52428800] [--timeout 30]

``file://`` URLs are supported (tests use them; no network in CI).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import urllib.parse
import urllib.request
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALLOWED_EXTENSIONS = {"jsonl", "txt", "md"}  # transcript landing formats
DEFAULT_MAX_BYTES = 50 * 1024 * 1024  # app.py:44 (MAX_FILE_SIZE_MB=50)
DEFAULT_TIMEOUT = 30  # app.py:382
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def rewrite_gdrive_url(url: str) -> str:
    """app.py:362-376: drive.google.com file links → direct-download."""
    parsed = urllib.parse.urlparse(url)
    if parsed.netloc != "drive.google.com":
        return url
    file_id = None
    if parsed.path.startswith("/file/d/"):
        parts = parsed.path.split("/")
        file_id = parts[3] if len(parts) > 3 else None
    elif parsed.path.startswith("/uc"):
        file_id = dict(urllib.parse.parse_qsl(parsed.query)).get("id")
    if file_id:
        return f"https://drive.google.com/uc?export=download&id={file_id}"
    return url


def allowed_url(url: str) -> bool:
    """app.py:54-57 allow-list shape, on the URL path's extension."""
    path = urllib.parse.urlparse(url).path
    return "." in path and path.rsplit(".", 1)[1].lower() in ALLOWED_EXTENSIONS


def fetch_url(
    url: str, max_bytes: int = DEFAULT_MAX_BYTES, timeout: int = DEFAULT_TIMEOUT
) -> bytes:
    """Driver-side download with the reference's guards (app.py:379-406)
    plus a hard streamed-bytes cap (the reference only checks the
    Content-Length header, which a server can lie about)."""
    url = rewrite_gdrive_url(url)
    with urllib.request.urlopen(url, timeout=timeout) as resp:
        length = resp.headers.get("Content-Length")
        if length and int(length) > max_bytes:
            raise ValueError(
                f"file too large: {length} bytes > {max_bytes} limit"
            )
        chunks, total = [], 0
        while True:
            chunk = resp.read(8192)
            if not chunk:
                break
            total += len(chunk)
            if total > max_bytes:
                raise ValueError(f"stream exceeded {max_bytes}-byte limit")
            chunks.append(chunk)
        return b"".join(chunks)


def _ts(turn_idx: int) -> datetime:
    return datetime.fromtimestamp(
        _EPOCH.timestamp() + 60 * turn_idx, tz=timezone.utc
    ).replace(tzinfo=None)


def parse_payload(url: str, payload: bytes) -> list[tuple]:
    """Payload bytes → transcript rows (conv_id, turn_idx, role, text,
    tool, ts). Deterministic; conv_id for plain text = sha256(url)."""
    text = payload.decode("utf-8", errors="replace")
    ext = urllib.parse.urlparse(url).path.rsplit(".", 1)[1].lower()
    rows: list[tuple] = []
    if ext == "jsonl":
        for line in text.splitlines():
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            idx = int(d["turn_idx"])
            ts = (
                datetime.fromisoformat(d["ts"]).replace(tzinfo=None)
                if d.get("ts")
                else _ts(idx)
            )
            rows.append(
                (str(d["conv_id"]), idx, d.get("role", "user"),
                 d.get("text", ""), d.get("tool", ""), ts)
            )
    else:
        conv_id = "url-" + hashlib.sha256(url.encode()).hexdigest()[:16]
        paragraphs = [p.strip() for p in text.split("\n\n") if p.strip()]
        for idx, para in enumerate(paragraphs):
            role = "user" if idx % 2 == 0 else "assistant"
            rows.append((conv_id, idx, role, para, "", _ts(idx)))
    return rows


DEFAULT_WORKERS = 8


def _fetch_one(url: str, max_bytes: int, timeout: int):
    """(url) → (payload | None, error | None). Never raises — one bad
    URL must not kill the batch."""
    if not allowed_url(url):
        return None, "extension not allowed"
    try:
        return fetch_url(url, max_bytes=max_bytes, timeout=timeout), None
    except Exception as e:
        return None, str(e)[:200]


DEFAULT_FLUSH_EVERY = 1000  # URLs per parquet flush

# retained error records are capped so the stats dict stays O(1) in the
# manifest size even when most of a 10^6-URL manifest fails; n_rejected
# stays exact, and the overflow is streamed to <output>_errors.jsonl
DEFAULT_MAX_ERRORS = 1000


def ingest(spark, manifest_path: str, output_path: str,
           max_bytes: int = DEFAULT_MAX_BYTES, timeout: int = DEFAULT_TIMEOUT,
           workers: int = DEFAULT_WORKERS,
           flush_every: int = DEFAULT_FLUSH_EVERY,
           max_errors: int = DEFAULT_MAX_ERRORS) -> dict:
    """Manifest (one URL per line; '#' comments) → transcripts parquet.
    Returns {n_urls, n_fetched, n_rejected, n_turns, errors,
    n_errors_truncated}.

    Fetches run on a bounded driver-side thread pool (``workers``): the
    no-executor-network invariant holds — executors never open sockets —
    but the reference's 30 s-per-fetch worst case no longer serializes a
    large manifest (10⁴ URLs × 30 s would be 3.5 days sequential).
    ``ThreadPoolExecutor.map`` preserves manifest order, so rows, stats
    and errors are byte-identical to the sequential path (tested).
    Network I/O releases the GIL, so threads (not processes) suffice.

    Containment: a bad URL — fetch failure OR malformed payload (bad
    JSON, missing turn_idx...) — is recorded in ``errors``/``n_rejected``
    and never kills the batch.

    Memory: parsed rows are flushed to parquet every ``flush_every``
    URLs (append after the first batch), so driver memory is bounded by
    the flush window, not the manifest size — a 10⁶-URL manifest streams
    through in constant space. Output data is identical to a single
    flush (only parquet part-file boundaries differ; tested). The same
    bound holds for failures: only the first ``max_errors`` error
    records are retained in the returned stats; the rest stream to
    ``<output>_errors.jsonl`` so a mostly-failing giant manifest cannot
    grow driver memory (``n_rejected`` stays exact either way).
    """
    from concurrent.futures import ThreadPoolExecutor

    from mistral_ocr_app_spark.sources.io import TRANSCRIPT_SCHEMA

    with open(manifest_path) as f:
        urls = [u.strip() for u in f if u.strip() and not u.startswith("#")]

    rows, errors, n_rejected, n_turns = [], [], 0, 0
    wrote_any = False
    err_sidecar = None

    def record_error(url: str, err: str) -> None:
        nonlocal err_sidecar, n_rejected
        n_rejected += 1
        rec = {"url": url, "err": err}
        if len(errors) < max_errors:
            errors.append(rec)
            return
        if err_sidecar is None:
            err_sidecar = open(f"{output_path.rstrip('/')}_errors.jsonl", "w")
        err_sidecar.write(json.dumps(rec) + "\n")

    def flush(force: bool = False) -> None:
        nonlocal rows, wrote_any, n_turns
        if not rows and not (force and not wrote_any):
            return
        mode = "append" if wrote_any else "overwrite"
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.mode(mode).parquet(
            output_path
        )
        n_turns += len(rows)
        rows, wrote_any = [], True

    try:
        if urls:
            with ThreadPoolExecutor(max_workers=max(1, workers)) as pool:
                fetched = pool.map(lambda u: _fetch_one(u, max_bytes, timeout), urls)
                for i, (url, (payload, err)) in enumerate(zip(urls, fetched), 1):
                    if err is not None:
                        record_error(url, err)
                    else:
                        try:
                            rows.extend(parse_payload(url, payload))
                        except Exception as e:
                            record_error(url, f"parse: {str(e)[:180]}")
                    if flush_every and i % flush_every == 0:
                        flush()
        flush(force=True)  # final partial batch (empty table for an empty run)
    finally:
        if err_sidecar is not None:
            err_sidecar.close()
    return {
        "n_urls": len(urls),
        "n_fetched": len(urls) - n_rejected,
        "n_rejected": n_rejected,
        "n_turns": n_turns,
        "errors": errors,
        "n_errors_truncated": max(0, n_rejected - len(errors)),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--manifest", required=True, help="text file, one URL per line")
    ap.add_argument("--output", required=True, help="transcripts parquet dir")
    ap.add_argument("--max-bytes", type=int, default=DEFAULT_MAX_BYTES)
    ap.add_argument("--timeout", type=int, default=DEFAULT_TIMEOUT)
    ap.add_argument("--workers", type=int, default=DEFAULT_WORKERS,
                    help="driver-side fetch threads (executors never "
                         "do network I/O)")
    ap.add_argument("--flush-every", type=int, default=DEFAULT_FLUSH_EVERY,
                    help="write parquet every N URLs so driver memory "
                         "bounds on N, not manifest size")
    ap.add_argument("--max-errors", type=int, default=DEFAULT_MAX_ERRORS,
                    help="error records kept in stats; overflow streams "
                         "to <output>_errors.jsonl (n_rejected stays exact)")
    args = ap.parse_args()

    from mistral_ocr_app_spark.session import get_spark

    spark = get_spark(app_name="transcript_ingestion")
    stats = ingest(spark, args.manifest, args.output,
                   max_bytes=args.max_bytes, timeout=args.timeout,
                   workers=args.workers, flush_every=args.flush_every,
                   max_errors=args.max_errors)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
