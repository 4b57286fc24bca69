#!/usr/bin/env python
"""S13 export job — assembled conversations → ZIP / markdown / HTML.

The reference's export options (README.md:49-53, app.py:809-846
``save_results_to_files``): a combined ``.md`` (``# Страница {i+1}``
headers joined by ``\\n\\n---\\n\\n``), a ``metadata.json`` that keeps
image entries as ``{id, path}`` pairs only (no payloads), an
``images/figure_X.png`` folder in the ZIP variant, and an interactive
HTML page. Presentation/export is a driver-side boundary by design
(SURVEY §2.1 S12/S13): the distributed part — extraction + ordered
assembly — runs on Spark; the driver then STREAMS conversations via
``toLocalIterator`` (never ``collect``) and writes the archive with
stdlib ``zipfile``.

Reference deltas, deliberate:
  * filenames derive from conv_id, not ``os.urandom`` (X13: the
    urandom ban — exports must be deterministic and resumable);
  * one export bundle per conversation instead of per upload request.

Usage:
    spark-submit jobs/export_job.py --input transcripts_parquet \\
        --output /path/out --format zip|md|html [--limit N]
"""

from __future__ import annotations

import argparse
import hashlib
import html as html_mod
import json
import os
import re
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the /image/ paths the extractor rewrites refs to (markdown.py X3/X5)
_IMG_REF = re.compile(r"!\[[^\]]*\]\((/image/[^)\s]+)\)")

# payload formats we name by their sniffed extension — exactly the
# values sniff_format can return for a concrete format; anything else
# (unknown/empty/riff container oddities) exports as .bin, never a
# misleading image extension
_KNOWN_EXTS = {"png", "jpeg", "gif", "webp", "wav", "mp4"}

HTML_TEMPLATE = """<!doctype html>
<html><head><meta charset="utf-8"><title>{title}</title>
<style>body{{font-family:sans-serif;max-width:60em;margin:2em auto}}
details{{border:1px solid #ccc;margin:.5em 0;padding:.5em}}</style>
</head><body><h1>{title}</h1><p>{n_turns} turns</p>
{sections}
</body></html>
"""


def conversation_markdown(row) -> str:
    """The app-variant combined markdown (assemble_conversations output
    is already the reference's page-joined shape)."""
    return row["combined_app"]


def conversation_metadata(row) -> dict:
    """metadata.json analog (app.py:832-841): counts + image refs as
    {id, path} pairs, never payloads."""
    refs = _IMG_REF.findall(row["combined_app"])
    return {
        "conv_id": row["conv_id"],
        "n_turns": row["n_turns"],
        "images": [
            {"id": f"figure_{i}", "path": p} for i, p in enumerate(refs)
        ],
    }


def conversation_html(row) -> str:
    """Interactive-HTML analog: one <details> section per page split on
    the page joiner, with the page markdown RENDERED to HTML (X15 — the
    reference does this client-side with ``marked.parse``, templates/
    index.html:25; ``markdown_to_html`` is the injection-safe
    server-side analog, escape-first so corpus text cannot script)."""
    from mistral_ocr_app_spark.functions.markdown import markdown_to_html

    pages = row["combined_app"].split("\n\n---\n\n")
    sections = "\n".join(
        "<details{}><summary>{}</summary>{}</details>".format(
            " open" if i == 0 else "",
            html_mod.escape(p.splitlines()[0] if p else f"page {i + 1}"),
            markdown_to_html(p),
        )
        for i, p in enumerate(pages)
    )
    return HTML_TEMPLATE.format(
        title=html_mod.escape(row["conv_id"]),
        n_turns=row["n_turns"],
        sections=sections,
    )


def _attach_media(assembled, media):
    """Join each conversation's ``/image/<id>`` refs to the media
    store's binary column ON THE SPARK SIDE (explode refs → equi-join
    on image_id → re-aggregate per conversation), so the driver still
    streams one conversation — text plus ITS images — at a time.
    ``media`` schema: (image_id: string, content: binary)."""
    from pyspark.sql import functions as F

    refs = assembled.select(
        "conv_id",
        F.explode(
            F.regexp_extract_all(
                "combined_app", F.lit(r"!\[[^\]]*\]\((/image/[^)\s]+)\)"), 1
            )
        ).alias("path"),
    )
    # a conversation citing the same image k times must ship its bytes
    # through the join/shuffle/collect_list ONCE, not k times — the
    # driver resolves each figure ref from the per-conv payload dict
    per_conv = (
        refs.dropDuplicates(["conv_id", "path"])
        .withColumn("image_id", F.regexp_replace("path", "^/image/", ""))
        .join(media.select("image_id", "content"), "image_id", "left")
        .groupBy("conv_id")
        .agg(F.collect_list(F.struct("path", "content")).alias("media_entries"))
    )
    return assembled.join(per_conv, "conv_id", "left")


def plan_export(spark, input_path: str, limit: int | None = None,
                media_path: str | None = None):
    """The export's Spark plan: extract → assemble (+ optional media
    join). A global sort happens ONLY when ``limit`` is set — it's what
    makes "first N" deterministic; a full export streams unordered (one
    less exchange, same file set — plan-asserted in tests)."""
    from mistral_ocr_app_spark.operators.assemble import assemble_conversations
    from mistral_ocr_app_spark.operators.extract import extract_turns

    assembled = assemble_conversations(
        extract_turns(spark.read.parquet(input_path))
    )
    if limit:
        assembled = assembled.orderBy("conv_id").limit(limit)
    if media_path is not None:
        assembled = _attach_media(assembled, spark.read.parquet(media_path))
    return assembled


def export(spark, input_path: str, output_dir: str, fmt: str = "zip",
           limit: int | None = None, media_path: str | None = None) -> dict:
    """transcripts parquet → export bundle(s). Returns stats.

    With ``media_path`` (parquet of (image_id, content)) the ZIP gets
    REAL image bytes as ``images/figure_X.<fmt>`` with the extension
    sniffed from the payload — the reference ships actual files under
    their real format in its archive (README.md:49-53, app.py:585-589);
    refs absent from the store fall back to ``.path`` placeholder
    entries. Naming is a pure function of conv_id: any conv_id that
    ``secure_filename`` changes gets a conv_id-hash suffix
    unconditionally, so names are stable across re-runs regardless of
    row arrival order and distinct conversations can never silently
    overwrite each other.
    """
    from mistral_ocr_app_spark.functions.markdown import secure_filename
    from mistral_ocr_app_spark.operators.multimodal import sniff_format

    os.makedirs(output_dir, exist_ok=True)
    assembled = plan_export(spark, input_path, limit=limit, media_path=media_path)

    n_convs = n_files = n_images = n_renamed = 0
    used_names: set[str] = set()
    zf = None
    if fmt == "zip":
        zf = zipfile.ZipFile(
            os.path.join(output_dir, "export.zip"), "w", zipfile.ZIP_DEFLATED
        )
    try:
        # stream, never collect: one conversation in driver memory at a time
        for row in assembled.toLocalIterator():
            name = secure_filename(f"{row['conv_id']}") or "conv"
            if name != row["conv_id"]:
                # secure_filename was lossy: ALWAYS suffix with the
                # conv_id hash, not only on observed collision — two
                # lossy ids can only collide through the sanitizer, and
                # unconditional suffixing makes the final name a pure
                # function of conv_id (order-independent, so resumed /
                # re-run exports produce identical file sets)
                digest = hashlib.sha256(row["conv_id"].encode()).hexdigest()[:8]
                name = f"{name}-{digest}"
                n_renamed += 1
            if name in used_names:  # full-hash collision: refuse to lose data
                raise ValueError(f"unresolvable filename collision: {name}")
            used_names.add(name)
            md = conversation_markdown(row)
            meta = conversation_metadata(row)
            if fmt == "zip":
                zf.writestr(f"{name}/document.md", md)
                zf.writestr(
                    f"{name}/metadata.json",
                    json.dumps(meta, indent=2, ensure_ascii=False),
                )
                payloads = {}
                if media_path is not None and row["media_entries"] is not None:
                    payloads = {
                        e["path"]: e["content"]
                        for e in row["media_entries"]
                        if e["content"] is not None
                    }
                for img in meta["images"]:
                    content = payloads.get(img["path"])
                    if content is not None:
                        # real bytes, reference naming (README.md:51);
                        # extension follows the sniffed payload format —
                        # the reference preserves the actual format in
                        # its archive names (app.py page_{i}_img_{id}.
                        # {format}), so a JPEG in the media store must
                        # not export under a misleading .png name
                        payload = bytes(content)
                        fmt_sniffed = sniff_format(payload)
                        ext = fmt_sniffed if fmt_sniffed in _KNOWN_EXTS else "bin"
                        zf.writestr(f"{name}/images/{img['id']}.{ext}", payload)
                        n_images += 1
                    else:
                        # no media store / ref missing from it: path-only
                        # placeholder, honest about the absent payload
                        zf.writestr(
                            f"{name}/images/{img['id']}.png.path",
                            img["path"],
                        )
                n_files += 2 + len(meta["images"])
            elif fmt == "md":
                with open(os.path.join(output_dir, f"{name}.md"), "w") as f:
                    f.write(md)
                n_files += 1
            elif fmt == "html":
                with open(os.path.join(output_dir, f"{name}.html"), "w") as f:
                    f.write(conversation_html(row))
                n_files += 1
            else:
                raise ValueError(f"unknown format {fmt!r}")
            n_convs += 1
    finally:
        if zf is not None:
            zf.close()
    return {"n_convs": n_convs, "n_files": n_files, "n_images": n_images,
            "n_renamed": n_renamed, "format": fmt, "output": output_dir}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--output", required=True, help="export directory")
    ap.add_argument("--format", choices=["zip", "md", "html"], default="zip")
    ap.add_argument("--limit", type=int, default=None,
                    help="export only the first N conversations (by conv_id)")
    ap.add_argument("--media", default=None,
                    help="parquet media store (image_id, content) — when "
                         "set, ZIP exports carry real image bytes")
    args = ap.parse_args()

    from mistral_ocr_app_spark.session import get_spark

    spark = get_spark(app_name="conversation_export")
    stats = export(spark, args.input, args.output, fmt=args.format,
                   limit=args.limit, media_path=args.media)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
