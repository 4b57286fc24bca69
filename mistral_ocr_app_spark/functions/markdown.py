"""Markdown / image-link / base64 payload semantics (engine side).

From-scratch implementation of the per-turn text computation whose
semantics are defined by the reference app (citations are into
/root/reference/ for parity checking only — no code is copied):

* image-ref extraction regex     — app.py:121-122 (IGNORECASE, ext group)
* strict API-ref regex           — app.py:164
* id normalization               — app.py:127  (``.``/``/`` → ``_``)
* filename synthesis             — app.py:128  (``page_{i}_extracted_{id}.{ext}``)
* first-occurrence-only rewrite  — app.py:105-106 (``str.replace(old, new, 1)``)
* positional ref↔image pairing   — app.py:92-112 (k-th ref ↔ k-th saved image)
* replace-all variant            — main.py:37-40 / index.js:521-527
* page assembly, app variant     — app.py:816-822 (``# Страница {i+1}`` hdr,
                                   ``\\n\\n---\\n\\n`` joiner)
* page assembly, cli variant     — main.py:42-50 (plain ``\\n\\n`` joiner)
* base64 sanity / format sniff   — app.py:179-216 (reject decoded <50 B,
                                   flag raw <100 chars, mime from header)
* validation counters            — app.py:142-177

Everything here is deterministic: the reference's ``os.urandom`` filename
salts (app.py:233,417,469) are replaced by stable, content-derived names
(SURVEY.md §2.8 X13 — nondeterminism is banned by the equality gate).

These functions are called from pandas UDFs over Arrow record batches
(mistral_ocr_app_spark.operators.extract); there is no per-row
``pyspark.sql.functions.udf`` anywhere in the engine.
"""

from __future__ import annotations

import base64
import binascii
import json
import os
import re
import unicodedata
from typing import Any

# app.py:121-122 — any-extension image ref, case-insensitive
IMAGE_REF_RE = re.compile(
    r"!\[([^\]]*)\]\(([^)]+\.(jpeg|jpg|png|gif|webp))\)", re.IGNORECASE
)
STRICT_NAME_RE = re.compile(r"img-\d+\.jpe?g$", re.IGNORECASE)

# werkzeug.utils.secure_filename semantics (documented public behavior,
# re-implemented faithfully — the reference imports it at app.py:14 and
# applies it at app.py:233,268,291,...; differential-tested against the
# real werkzeug in tests/test_markdown.py, incl. Cyrillic/CJK names —
# the reference app is Russian-localized, its users WILL hit these):
# NFKD-normalize → drop non-ASCII (é→e, Cyrillic/CJK vanish) → path
# separators→space → whitespace runs→single ``_`` → REMOVE (not
# underscore) remaining non [A-Za-z0-9_.-] → strip leading/trailing
# ``.``/``_``. May return '' (werkzeug contract).
_SECURE_STRIP_RE = re.compile(r"[^A-Za-z0-9_.-]")
_WINDOWS_DEVICE_FILES = {
    "CON", "PRN", "AUX", "NUL",
    *(f"COM{i}" for i in range(1, 10)),
    *(f"LPT{i}" for i in range(1, 10)),
}


def secure_filename(name: str) -> str:
    """ASCII-safe filename, werkzeug-exact (see block comment above)."""
    name = unicodedata.normalize("NFKD", name)
    name = name.encode("ascii", "ignore").decode("ascii")
    for sep in (os.sep, os.path.altsep):
        if sep:
            name = name.replace(sep, " ")
    name = _SECURE_STRIP_RE.sub("", "_".join(name.split())).strip("._")
    if (
        os.name == "nt"
        and name
        and name.split(".")[0].upper() in _WINDOWS_DEVICE_FILES
    ):
        name = f"_{name}"
    return name


def normalize_image_id(image_ref: str) -> str:
    """app.py:127 — ``ref.replace('.','_').replace('/','_')``."""
    return image_ref.replace(".", "_").replace("/", "_")


def extract_images_from_markdown(markdown_text: str, page_index: int) -> list[dict]:
    """All image refs in reading order (app.py:117-140 semantics)."""
    out = []
    for m in IMAGE_REF_RE.finditer(markdown_text or ""):
        alt_text, image_ref, ext = m.group(1), m.group(2), m.group(3)
        img_id = normalize_image_id(image_ref)
        out.append(
            {
                "id": img_id,
                "alt_text": alt_text,
                "original_ref": image_ref,
                "filename": f"page_{page_index}_extracted_{img_id}.{ext}",
                "markdown_pattern": f"![{alt_text}]({image_ref})",
            }
        )
    return out


def rewrite_markdown_links(
    markdown_text: str, page_index: int
) -> tuple[str, int, int, int]:
    """update_markdown_image_links (app.py:64-115) per-turn.

    k-th markdown ref pairs with k-th saved image (positional inner join,
    ``k < len`` guard); each hit rewrites the FIRST remaining occurrence
    of the literal pattern to ``![alt](/image/<basename>)``.

    Returns (new_markdown, n_refs, n_api_images, n_rewritten).
    """
    md = markdown_text or ""
    # single scan builds both the ref list and the saved-image model
    # (the golden transcription stays two-pass — independent impls)
    refs: list[tuple[str, str]] = []  # (alt_text, markdown_pattern)
    api_basenames: list[str] = []
    for m in IMAGE_REF_RE.finditer(md):
        alt_text, image_ref, ext = m.group(1), m.group(2), m.group(3)
        refs.append((alt_text, m.group(0)))
        if STRICT_NAME_RE.search(image_ref):
            img_id = normalize_image_id(image_ref)
            api_basenames.append(
                secure_filename(f"page_{page_index}_extracted_{img_id}.{ext}")
            )
    if not refs:
        return md, 0, len(api_basenames), 0
    updates = 0
    for k, (alt_text, old) in enumerate(refs):
        if k >= len(api_basenames):
            continue
        new = f"![{alt_text}](/image/{api_basenames[k]})"
        if old in md:
            md = md.replace(old, new, 1)
            updates += 1
    return md, len(refs), len(api_basenames), updates


def replace_images_in_markdown(markdown_str: str, images_dict: dict[str, str]) -> str:
    """Replace-ALL variant (main.py:37-40): ``![id](id)`` → ``![id](b64)``."""
    for img_name, b64 in images_dict.items():
        markdown_str = markdown_str.replace(f"![{img_name}]({img_name})", f"![{img_name}]({b64})")
    return markdown_str


PAGE_HEADER_FMT = "# Страница {n}\n\n{md}"  # app.py:742/:820/:1053
PAGE_JOINER_APP = "\n\n---\n\n"  # app.py:775/:822/:1068
PAGE_JOINER_CLI = "\n\n"  # main.py:50 / index.js:547


def combine_pages_app(pages: list[tuple[int, str]]) -> str:
    """app.py:816-822: header per page, ``\\n\\n---\\n\\n`` joiner.

    ``pages`` is (index, markdown) in page order; header uses index+1.
    """
    return PAGE_JOINER_APP.join(
        PAGE_HEADER_FMT.format(n=idx + 1, md=md or "") for idx, md in pages
    )


def combine_pages_cli(pages: list[str]) -> str:
    """main.py:42-50 / index.js:534-548: plain ``\\n\\n`` joiner, no header."""
    return PAGE_JOINER_CLI.join(p or "" for p in pages)


# ---------------------------------------------------------------- base64 ---

_MIME_SNIFFS = (  # app.py:191-198 priority order
    ("image/png", "png"),
    ("image/jpeg", "jpg"),
    ("image/jpg", "jpg"),
    ("image/webp", "webp"),
)


def parse_base64_payload(payload: str) -> dict[str, Any]:
    """enhanced_base64_processing semantics (app.py:179-216).

    Returns {valid, format, size, flagged_small} — ``valid`` False when the
    payload fails to decode or decodes to < 50 bytes (app.py:204);
    ``flagged_small`` when the raw string is < 100 chars (app.py:157).
    """
    result = {"valid": False, "format": "png", "size": 0, "flagged_small": False}
    if not payload:
        return result
    result["flagged_small"] = len(payload) < 100
    clean = payload.split("base64,", 1)[1] if "base64," in payload else payload
    fmt = "png"
    for marker, tag in _MIME_SNIFFS:
        if marker in payload:
            fmt = tag
            break
    result["format"] = fmt
    try:
        # lenient decode, matching the reference (app.py:201 calls
        # b64decode without validate=True): non-alphabet chars such as
        # embedded newlines/whitespace are discarded, not rejected
        data = base64.b64decode(clean)
    except (binascii.Error, ValueError):
        return result
    result["size"] = len(data)
    result["valid"] = len(data) >= 50
    return result


# ----------------------------------------------------- mock-document JSON ---


def parse_mock_document(payload: str) -> dict[str, Any] | None:
    """Parse a serialized multi-page document ``{"pages":[...]}``.

    Page shape mirrors the reference's processed page
    (app.py:536: {index, markdown, images[{id, image_base64}]}).
    """
    try:
        doc = json.loads(payload)
    except (json.JSONDecodeError, TypeError):
        return None
    if not isinstance(doc, dict) or "pages" not in doc:
        return None
    return doc


def extract_mock_document(payload: str) -> tuple[str, int, int]:
    """Per-turn extraction for a serialized paged document.

    Combined app-variant markdown (app.py:816-822) over the document's own
    pages, plus image counters (A1/A3: total images, empty-base64 images
    — the fallback census of app.py:610-630).
    """
    doc = parse_mock_document(payload)
    if doc is None:
        return payload or "", 0, 0
    pages, total_images, empty_b64 = [], 0, 0
    for page in doc.get("pages", []):
        idx = page.get("index", 0)
        md = page.get("markdown", "") or ""
        images = page.get("images") or []
        total_images += len(images)
        for img in images:
            if not img.get("image_base64"):
                empty_b64 += 1
        pages.append((idx, md))
    return combine_pages_app(pages), total_images, empty_b64


def extract_mock_document_cli(payload: str) -> str:
    """CLI/JS variant (main.py:42-50): per-page id→b64 replace-all, then
    join pages with ``\\n\\n`` (no headers)."""
    doc = parse_mock_document(payload)
    if doc is None:
        return payload or ""
    mds = []
    for page in doc.get("pages", []):
        image_data = {
            img.get("id"): img.get("image_base64")
            for img in (page.get("images") or [])
            if img.get("id") and img.get("image_base64")
        }
        mds.append(replace_images_in_markdown(page.get("markdown", "") or "", image_data))
    return combine_pages_cli(mds)


# ------------------------------------------------------- HTML rendering ---

# X15: the reference renders extracted markdown to HTML client-side via
# marked.js (templates/index.html:25, compare.html:340
# ``marked.parse(page.markdown)``). This is the server-side analog for
# the export path, covering exactly the markdown subset the extraction
# pipeline emits: ATX headers, image refs, links, ---/*** rules,
# `code` / **bold** / *em* inlines, paragraphs. Escaping-first: the
# whole input is HTML-escaped BEFORE any transform, so corpus text can
# never inject markup; href/src are restricted to http(s)/root-relative
# /#-anchor targets (a javascript: URL renders as plain text).

_MD_IMG_RE = re.compile(r"!\[([^\]]*)\]\(([^)\s]+)\)")
_MD_LINK_RE = re.compile(r"\[([^\]]*)\]\(([^)\s]+)\)")
_MD_CODE_RE = re.compile(r"`([^`]+)`")
_MD_BOLD_RE = re.compile(r"\*\*([^*]+)\*\*")
_MD_EM_RE = re.compile(r"\*([^*]+)\*")
_SAFE_URL_RE = re.compile(r"^(?:https?:|/|#)")


def _md_inline(text: str) -> str:
    """Inline transforms over ALREADY-ESCAPED text."""

    def img(m: re.Match) -> str:
        alt, src = m.group(1), m.group(2)
        if not _SAFE_URL_RE.match(src):
            return m.group(0)  # unsafe target stays visible plain text
        return f'<img src="{src}" alt="{alt}"/>'

    def link(m: re.Match) -> str:
        label, href = m.group(1), m.group(2)
        if not _SAFE_URL_RE.match(href):
            return m.group(0)
        return f'<a href="{href}">{label}</a>'

    text = _MD_IMG_RE.sub(img, text)  # image syntax embeds link syntax
    text = _MD_LINK_RE.sub(link, text)
    text = _MD_CODE_RE.sub(r"<code>\1</code>", text)
    text = _MD_BOLD_RE.sub(r"<strong>\1</strong>", text)
    text = _MD_EM_RE.sub(r"<em>\1</em>", text)
    return text


def markdown_to_html(md: str) -> str:
    """Markdown → HTML for the subset the pipeline emits (see module
    note above). Deterministic, stdlib-only, injection-safe by
    escape-first construction."""
    import html as _html

    blocks = re.split(r"\n\s*\n", _html.escape(md or "", quote=True))
    out = []
    for block in blocks:
        block = block.strip()
        if not block:
            continue
        if re.fullmatch(r"(-{3,}|\*{3,})", block):
            out.append("<hr/>")
            continue
        m = re.match(r"(#{1,6})\s+(.*)", block)
        if m and "\n" not in block:
            level = len(m.group(1))
            out.append(f"<h{level}>{_md_inline(m.group(2).strip())}</h{level}>")
            continue
        body = "<br/>".join(_md_inline(line) for line in block.splitlines())
        out.append(f"<p>{body}</p>")
    return "\n".join(out)
