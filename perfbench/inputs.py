"""Seeded benchmark inputs, written once per (workload, seed) and cached.

Every input is derived from ``--seed`` alone: transcripts come from the
package's own generator (``fixtures.transcripts.generate_transcripts``)
and are replicated with a conv_id suffix, the way ``bench.py`` reaches
its bench size; the document corpus comes from a small generator here.
The program under test only ever sees the parquet files written below.

Each table is written as many files (``SPLITS_PER_CORE`` per core), as
a real table is; at these sizes Spark still packs them into about one
scan split per core.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SPLITS_PER_CORE = 8

# transcripts: a seeded base replicated REPLICAS times; its heavy
# conversations (above the assembly routing threshold) appear once, the
# ordinary ones (3-40 turns) in every replica; then cut to TURNS turns
# of whole conversations, so every seed times the same amount of input
TRANSCRIPTS = dict(n_convs=200, heavy_convs=2, heavy_turns=1100)
REPLICAS = 8
TURNS = 30000
WARM_CONVS = 40
N_DOCS = 1000
NEW_DOCS_FRAC = 0.2  # docs_dedup: incremental batch against the other 80 %


def _write_splits(df: pd.DataFrame, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="zstd",
        )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _replicate(df: pd.DataFrame, replicas: int, once: set[str]) -> pd.DataFrame:
    """k copies of a seeded base, each a NEW conversation (conv_id
    suffixed by the replica id), so the conversation-length mix is kept;
    conversations in ``once`` keep only replica 0. Per-turn output
    depends only on text, tool and turn_idx, so the golden rows
    replicate the same way."""
    parts = []
    for k in range(replicas):
        part = df[~df["conv_id"].isin(once)] if k else df.copy()
        part = part.assign(conv_id=part["conv_id"] + f"-{k}")
        parts.append(part)
    return pd.concat(parts, ignore_index=True)


def _shuffled(df: pd.DataFrame, rng: np.random.RandomState) -> pd.DataFrame:
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def _first_turns(df: pd.DataFrame, heavy: set[str], rng: np.random.RandomState) -> set[str]:
    """conv_ids of whole conversations, the heavy ones first and the
    rest in a seeded order, up to TURNS turns in all."""
    sizes = df.groupby("conv_id").size()
    light = sizes.index[~sizes.index.str.rsplit("-", n=1).str[0].isin(heavy)]
    order = [*sizes.index.difference(light), *light[rng.permutation(len(light))]]
    total = sizes[order].cumsum()
    if total.iloc[-1] < TURNS:
        raise ValueError(f"the generated base has {total.iloc[-1]} turns, fewer than {TURNS}")
    return set(total.index[total <= TURNS])


def _transcripts(seed: int, out: str, n_files: int, cores: int) -> dict:
    from mistral_ocr_app_spark.fixtures.transcripts import generate_transcripts

    base, golden_turns, golden_convs = generate_transcripts(seed=seed, **TRANSCRIPTS)
    heavy = set(golden_convs["conv_id"][: TRANSCRIPTS["heavy_convs"]])
    rng = np.random.RandomState(seed)
    transcripts = _replicate(base, REPLICAS, heavy)
    keep = _first_turns(transcripts, heavy, rng)
    transcripts = _shuffled(transcripts[transcripts["conv_id"].isin(keep)], rng)
    _write_splits(transcripts, os.path.join(out, "transcripts"), n_files)
    # the set-up's full-width warm pass: a few conversations per core
    few = base[base["conv_id"].isin(golden_convs["conv_id"][-WARM_CONVS:])]
    _write_splits(_replicate(few, 1, heavy), os.path.join(out, "warm"), cores)
    for name, df in (("golden_turns", golden_turns), ("golden_convs", golden_convs)):
        df = _replicate(df, REPLICAS, heavy)
        _write_splits(df[df["conv_id"].isin(keep)], os.path.join(out, name), 1)
    return {"rows": len(transcripts), "input": "transcripts"}


# pseudo-words, mildly skewed so common words recur across documents;
# a steeper skew let short documents of common words share every minhash
# band, and one seed's corpus then had 100x another's LSH candidates
_SYLLABLES = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu", "an", "or"]


def make_documents(seed: int, n_docs: int = N_DOCS) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars): 70 % independent
    documents, 10 % exact copies and 20 % light edits (one token in ~25
    replaced) of an earlier independent document, so duplicate clusters
    are stars around their original."""
    rng = np.random.RandomState(seed)
    vocab = np.array(
        sorted(
            {
                "".join(rng.choice(_SYLLABLES, size=int(rng.randint(2, 5))))
                for _ in range(6000)
            }
        )
    )
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.7
    weights /= weights.sum()
    texts: list[str] = []
    originals: list[str] = []
    for i in range(n_docs):
        r = rng.rand()
        if i < 20 or r < 0.7:
            words = rng.choice(vocab, size=int(rng.randint(20, 101)), p=weights)
            originals.append(" ".join(words.tolist()))
            texts.append(originals[-1])
        elif r < 0.8:
            texts.append(originals[int(rng.randint(len(originals)))])
        else:
            words = originals[int(rng.randint(len(originals)))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.randint(len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": langs[rng.randint(0, len(langs), size=n_docs)],
            "source": [f"src{k}" for k in rng.randint(0, 20, size=n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _documents(seed: int, out: str, n_files: int, cores: int) -> dict:
    docs = make_documents(seed)
    rng = np.random.RandomState(seed + 1)
    is_new = rng.rand(len(docs)) < NEW_DOCS_FRAC
    _write_splits(docs, os.path.join(out, "documents"), n_files)
    _write_splits(docs[~is_new], os.path.join(out, "committed"), n_files)
    _write_splits(docs[is_new], os.path.join(out, "new"), n_files)
    _write_splits(docs.iloc[: len(docs) // 8], os.path.join(out, "warm"), cores)
    return {"rows": len(docs), "input": "documents"}


def source_digest(root: str) -> str:
    """sha256 over this file and every source file of the package. The
    goldens come from the package's fixture generator (which imports the
    package's classifier), so a cache entry is reused only by the exact
    sources that wrote it."""
    pkg = os.path.join(root, "mistral_ocr_app_spark")
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
    )
    h = hashlib.sha256()
    for path in [os.path.abspath(__file__), *files]:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_inputs(workload: str, seed: int, cache_dir: str, cores: int, root: str) -> dict:
    """Path map + size record for one workload's inputs; generated on
    first use, then read back from the cache."""
    out = os.path.join(cache_dir, f"{workload}-s{seed}-{source_digest(root)}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        t0 = time.perf_counter()
        n_files = SPLITS_PER_CORE * cores
        make = _documents if workload == "docs_dedup" else _transcripts
        meta = make(seed, out, n_files, cores)
        meta["splits"] = n_files
        meta["bytes"] = _dir_bytes(os.path.join(out, meta["input"]))
        meta["gen_s"] = time.perf_counter() - t0
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["dir"] = out
    meta["path"] = os.path.join(out, meta["input"])
    return meta
