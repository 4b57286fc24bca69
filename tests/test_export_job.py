"""S13 export job: assembled conversations → ZIP/md/HTML bundles
(reference app.py:809-846 save_results_to_files + README export
options), driver-side streaming — never collect()."""

import json
import zipfile

from export_job import export, plan_export

from mistral_ocr_app_spark.fixtures import write_fixture
from mistral_ocr_app_spark.functions.png import decode_png, encode_png


def _fixture(spark, tmp_path, n=5):
    return write_fixture(str(tmp_path / "fx"), n_convs=n, seed=3)


def test_export_zip_structure_and_content(spark, tmp_path):
    paths = _fixture(spark, tmp_path)
    out = tmp_path / "out"
    stats = export(spark, paths["transcripts"], str(out), fmt="zip")
    assert stats["n_convs"] == 5

    with zipfile.ZipFile(out / "export.zip") as z:
        names = z.namelist()
        docs = sorted(n for n in names if n.endswith("document.md"))
        metas = sorted(n for n in names if n.endswith("metadata.json"))
        assert len(docs) == len(metas) == 5
        md = z.read(docs[0]).decode("utf-8")
        # the reference's combined shape: page headers + --- joiners
        assert md.startswith("# Страница ")
        assert "\n\n---\n\n" in md
        meta = json.loads(z.read(metas[0]))
        assert set(meta) == {"conv_id", "n_turns", "images"}
        assert meta["n_turns"] >= 1
        # image entries are {id, path} pairs only — no payloads
        for img in meta["images"]:
            assert set(img) == {"id", "path"}
            assert img["path"].startswith("/image/")

    # exported markdown is exactly the engine's assembled output
    from mistral_ocr_app_spark.operators.assemble import assemble_conversations
    from mistral_ocr_app_spark.operators.extract import extract_turns

    t = spark.read.parquet(paths["transcripts"])
    row = assemble_conversations(extract_turns(t)).orderBy("conv_id").first()
    with zipfile.ZipFile(out / "export.zip") as z:
        assert z.read(docs[0]).decode("utf-8") == row["combined_app"]


def test_export_zip_with_media_store_real_png_bytes(spark, tmp_path):
    """VERDICT r3 item 3: with --media, the ZIP carries REAL image
    bytes as images/figure_X.png (the reference ships actual files,
    README.md:49-53); refs absent from the store still land as .path
    placeholders."""
    import pandas as pd
    from pyspark.sql import functions as F

    paths = _fixture(spark, tmp_path)
    # learn the image ids this fixture's extraction actually references
    assembled = plan_export(spark, paths["transcripts"])
    ref_paths = sorted(
        r["p"]
        for r in assembled.select(
            F.explode(
                F.regexp_extract_all(
                    "combined_app",
                    F.lit(r"!\[[^\]]*\]\((/image/[^)\s]+)\)"), 1,
                )
            ).alias("p")
        ).collect()
    )
    assert ref_paths, "fixture must produce image refs"
    # media store covers all but the LAST referenced id (fallback path)
    covered = ref_paths[:-1] if len(ref_paths) > 1 else ref_paths
    png = encode_png(6, 4, bytes(range(24)))
    store = pd.DataFrame(
        {"image_id": [p.removeprefix("/image/") for p in covered],
         "content": [png] * len(covered)}
    ).drop_duplicates("image_id")
    media_pq = str(tmp_path / "media.parquet")
    spark.createDataFrame(store).write.parquet(media_pq)

    out = tmp_path / "out_media"
    stats = export(spark, paths["transcripts"], str(out), fmt="zip",
                   media_path=media_pq)
    assert stats["n_images"] > 0
    with zipfile.ZipFile(out / "export.zip") as z:
        real = [n for n in z.namelist() if n.endswith(".png")]
        assert len(real) == stats["n_images"]
        # the exported figure is a decodable PNG, byte-identical payload
        blob = z.read(real[0])
        assert blob == png and decode_png(blob) == (6, 4, 1, bytes(range(24)))
        if len(ref_paths) > 1:  # the uncovered ref fell back to a placeholder
            placeholders = [n for n in z.namelist() if n.endswith(".png.path")]
            assert placeholders


def test_export_media_extension_follows_sniffed_format(spark, tmp_path):
    """ADVICE r4: a JPEG payload in the media store must export as
    images/figure_X.jpeg, not under a misleading .png name (the
    reference preserves the actual format in its archive names,
    app.py page_{i}_img_{id}.{format})."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mistral_ocr_app_spark.functions.jpeg import decode_jpeg, encode_jpeg

    paths = _fixture(spark, tmp_path)
    assembled = plan_export(spark, paths["transcripts"])
    ref_paths = sorted(
        r["p"]
        for r in assembled.select(
            F.explode(
                F.regexp_extract_all(
                    "combined_app",
                    F.lit(r"!\[[^\]]*\]\((/image/[^)\s]+)\)"), 1,
                )
            ).alias("p")
        ).collect()
    )
    assert ref_paths
    jpg = encode_jpeg(8, 8, bytes([42]) * 64)
    store = pd.DataFrame(
        {"image_id": [p.removeprefix("/image/") for p in ref_paths],
         "content": [jpg] * len(ref_paths)}
    ).drop_duplicates("image_id")
    media_pq = str(tmp_path / "media_jpg.parquet")
    spark.createDataFrame(store).write.parquet(media_pq)

    out = tmp_path / "out_jpg"
    stats = export(spark, paths["transcripts"], str(out), fmt="zip",
                   media_path=media_pq)
    assert stats["n_images"] > 0
    with zipfile.ZipFile(out / "export.zip") as z:
        jpegs = [n for n in z.namelist() if n.endswith(".jpeg")]
        assert len(jpegs) == stats["n_images"]
        assert not [n for n in z.namelist() if n.endswith(".png")]
        blob = z.read(jpegs[0])
        assert blob == jpg and decode_jpeg(blob)[3] == bytes([42]) * 64


def test_export_filename_collisions_disambiguated(spark, tmp_path):
    """ADVICE r3 + r4: conv_ids that collide after secure_filename must
    not overwrite each other. Every LOSSY sanitization gets the conv_id-
    hash suffix (not just observed collisions), so the final name is a
    pure function of conv_id — independent of toLocalIterator arrival
    order, which keeps re-runs/resumes producing identical file sets."""
    import pandas as pd

    rows = []
    for cid in ["conv/a", "conv_a", "conv a"]:  # all sanitize to conv_a
        rows.append({"conv_id": cid, "turn_idx": 0, "role": "user",
                     "text": f"hello from {cid}", "tool": "",
                     "ts": pd.Timestamp("2024-01-01").to_pydatetime()})
    from mistral_ocr_app_spark.sources.io import TRANSCRIPT_SCHEMA
    pq = str(tmp_path / "collide.parquet")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(pq)

    out = tmp_path / "out_collide"
    stats = export(spark, pq, str(out), fmt="md")
    assert stats["n_convs"] == 3 and stats["n_renamed"] == 2
    files = sorted(out.glob("*.md"))
    assert len(files) == 3  # three distinct files, nothing overwritten
    contents = {f.read_text() for f in files}
    assert len(contents) == 3


def test_full_export_plan_has_no_sort(spark, tmp_path):
    """VERDICT r3 item 5: the unconditional global sort is gone — a
    full export's plan contains no Sort (the one exchange is the
    assembly groupBy); --limit brings the deterministic TopK back."""
    paths = _fixture(spark, tmp_path, n=3)
    full = plan_export(spark, paths["transcripts"])
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan
    limited = plan_export(spark, paths["transcripts"], limit=2)
    lplan = limited._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in lplan or "Sort" in lplan


def test_export_md_and_html(spark, tmp_path):
    paths = _fixture(spark, tmp_path, n=3)
    out_md, out_html = tmp_path / "md", tmp_path / "html"
    s1 = export(spark, paths["transcripts"], str(out_md), fmt="md", limit=2)
    assert s1["n_convs"] == 2 and len(list(out_md.glob("*.md"))) == 2

    s2 = export(spark, paths["transcripts"], str(out_html), fmt="html", limit=2)
    assert s2["n_convs"] == 2
    page = next(iter(sorted(out_html.glob("*.html")))).read_text()
    assert "<details" in page and "Страница" in page
    # corpus text is escaped — no raw tags leak into the page
    assert "<script" not in page.lower()
