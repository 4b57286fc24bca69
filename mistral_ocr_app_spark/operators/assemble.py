"""Ordered per-conversation document assembly (SURVEY §2.5 W1 — flagship).

The reference joins OCR pages into one document in response order with a
per-page header (app.py:816-822 — ``# Страница {i+1}`` +
``\\n\\n---\\n\\n``) or plainly (main.py:50 / index.js:547 — ``\\n\\n``).
Our analog: per conversation, turns ordered by ``turn_idx``.

All JVM-side (no Python): ``collect_list(struct(turn_idx, text))`` →
``array_sort`` → ``transform``/``concat`` → ``array_join``. The
single shuffle is the groupBy exchange on ``conv_id``; partial (map-side)
aggregation of collect_list keeps it one pass, and AQE skew-join/
coalesce handles long-conversation skew (session.py).

Pinned contracts (fixture-tested):

* Header numbering uses the turn's OWN index: ``# Страница {turn_idx+1}``.
  This is exactly the reference semantics — app.py:820 numbers by
  ``page.get('index', 0) + 1`` (the page's own index field), NOT by
  position in the combined list — so gapped turn_idx yields gapped
  headers, same as the reference would for gapped page indexes.
* ``(conv_id, turn_idx)`` must identify a turn (BASELINE input_hint
  schema contract). With duplicate turn_idx the array_sort tie-break
  (second struct field) is not the reference's stable input order —
  duplicates are outside the contract.
* Skew bound: one ``collect_list`` buffer holds a whole conversation;
  for corpora with pathological conversations (≥100k turns) use
  ``assemble_conversations_chunked`` — identical output, per-group
  state bounded by ``chunk_size`` elements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAGE_JOINER_APP = "\n\n---\n\n"  # app.py:822
PAGE_JOINER_CLI = "\n\n"  # main.py:50


def _ordered_turns(extracted: DataFrame):
    """array<struct<turn_idx,extracted_text>> sorted by turn_idx.

    array_sort on structs orders by fields left-to-right, so turn_idx
    (first field) dominates — the stable-turn-ordering contract."""
    return F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), F.col("extracted_text")))
    )


def _app_header(x):
    """``# Страница {turn_idx+1}\\n\\n{text}`` as a concat chain.

    Byte-identical to ``format_string("# Страница %d\\n\\n%s", ...)`` for
    this schema (non-null int, coalesced text), but format_string drives
    java.util.Formatter per element — measured ~1.8× the reduce-stage
    task-time of plain concat on the 1M-turn bench corpus (359s → 203s
    across 32 cores). This expression runs once per turn in the
    flagship reduce, so it IS the hot path."""
    return F.concat(
        F.lit("# Страница "),
        (x["turn_idx"] + F.lit(1)).cast("string"),
        F.lit("\n\n"),
        F.coalesce(x["extracted_text"], F.lit("")),
    )


def assemble_conversations_app(extracted: DataFrame) -> DataFrame:
    """App variant: per-turn ``# Страница {turn_idx+1}`` header, ``---``
    separator (app.py:816-822). Output: (conv_id, n_turns, combined_app)."""
    turns = _ordered_turns(extracted)
    return extracted.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        F.array_join(
            F.transform(
                turns,
                _app_header,
            ),
            PAGE_JOINER_APP,
        ).alias("combined_app"),
    )


def _derive_combined(agged: DataFrame) -> DataFrame:
    """(conv_id, n_turns, _turns) → both combined strings, dropping the
    intermediate sorted array. A plain projection over the aggregate."""
    return agged.select(
        "conv_id",
        "n_turns",
        F.array_join(
            F.transform(F.col("_turns"), _app_header),
            PAGE_JOINER_APP,
        ).alias("combined_app"),
        F.array_join(
            F.transform(
                F.col("_turns"),
                lambda x: F.coalesce(x["extracted_text"], F.lit("")),
            ),
            PAGE_JOINER_CLI,
        ).alias("combined_cli"),
    )


def assemble_conversations(extracted: DataFrame) -> DataFrame:
    """Both joiner variants from ONE aggregation and ONE sort (still a
    single shuffle).

    The aggregate emits only (n_turns, sorted turns array); the two
    combined strings are derived in a separate post-aggregation
    projection (``_derive_combined``). Inlining both ``array_join``
    expressions into the agg — the pre-round-5 shape — evaluated the
    O(n log n) ``array_sort`` once PER OUTPUT COLUMN per group: the
    hash-aggregate result projection gets no codegen subexpression
    elimination for it. Catalyst keeps the projection separate rather
    than collapsing it back (the non-cheap ``_turns`` reference is used
    twice, so ``CollapseProject`` refuses), so the sort now runs exactly
    once per conversation."""
    agged = extracted.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        _ordered_turns(extracted).alias("_turns"),
    )
    return _derive_combined(agged)


def assemble_conversations_chunked(
    extracted: DataFrame, chunk_size: int = 4096
) -> DataFrame:
    """Skew-bounded hierarchical assembly — identical output to
    ``assemble_conversations`` (property-tested), different shape:

    stage 1 groups by ``(conv_id, turn_idx // chunk_size)`` and joins
    each chunk to one string; stage 2 concatenates chunk strings in
    chunk order. Two exchanges instead of one, but no aggregation
    buffer ever holds more than ``chunk_size`` structs (stage 1) or
    ``ceil(n_turns/chunk_size)`` strings (stage 2) — a 10⁶-turn
    conversation cannot OOM an executor the way a single collect_list
    of 10⁶ structs can. Headers carry turn_idx, so chunks format
    independently; intra- and inter-chunk joiners are the same string,
    making the concatenation associative."""
    chunk = F.floor(F.col("turn_idx") / chunk_size).cast("long")
    # same single-sort split as assemble_conversations, at both levels:
    # each aggregate emits one sorted array; the per-variant strings are
    # derived in a following projection so the sort runs once per group
    per_chunk = (
        extracted.withColumn("chunk", chunk)
        .groupBy("conv_id", "chunk")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_turns"),
            _ordered_turns(extracted).alias("_turns"),
        )
        .select(
            "conv_id",
            "chunk",
            "n_turns",
            F.array_join(
                F.transform(F.col("_turns"), _app_header),
                PAGE_JOINER_APP,
            ).alias("app_chunk"),
            F.array_join(
                F.transform(
                    F.col("_turns"),
                    lambda x: F.coalesce(x["extracted_text"], F.lit("")),
                ),
                PAGE_JOINER_CLI,
            ).alias("cli_chunk"),
        )
    )
    agged = per_chunk.groupBy("conv_id").agg(
        F.sum("n_turns").cast("int").alias("n_turns"),
        F.array_sort(
            F.collect_list(
                F.struct(F.col("chunk"), F.col("app_chunk"), F.col("cli_chunk"))
            )
        ).alias("_chunks"),
    )
    return agged.select(
        "conv_id",
        "n_turns",
        F.array_join(
            F.transform(F.col("_chunks"), lambda c: c["app_chunk"]), PAGE_JOINER_APP
        ).alias("combined_app"),
        F.array_join(
            F.transform(F.col("_chunks"), lambda c: c["cli_chunk"]), PAGE_JOINER_CLI
        ).alias("combined_cli"),
    )


def assemble_auto(
    extracted: DataFrame,
    threshold_turns: int = 65_536,
    chunk_size: int = 4096,
) -> DataFrame:
    """Route each conversation to the cheaper safe shape (round 6):

    * conversations with ≤ ``threshold_turns`` turns take the FLAT
      single-exchange path (``assemble_conversations`` — one shuffle,
      one sort; the winner whenever the collect_list buffer fits)
    * heavier conversations take the CHUNKED two-exchange path
      (``assemble_conversations_chunked`` — no aggregation buffer ever
      holds more than ``chunk_size`` structs, so a 10⁶-turn
      conversation cannot OOM an executor)

    The routing predicate is a cheap per-conv count (map-side partial
    count, conv_id-only shuffle) whose heavy side is broadcast to both
    branches: by construction it has at most ``total_turns /
    threshold_turns`` rows, and with the 64 Ki default that is ~15 M
    ids per 10¹² turns worst-case — in a corpus where such convs are
    that common, call the chunked path directly instead. Default
    threshold sits 16× above the chunk size and well under the measured
    flat-OOM region (tests/memory_probe.py: a 2 M-turn conv needs
    ~800 MB of heap flat, while 65 Ki structs stay in the tens of MB).

    NOTE: ``extracted`` is traversed by both branches and the count —
    call this on a materialized relation (the extract job's parquet
    output, as ``jobs/extract_job.py`` does), not directly on the
    mapInArrow extraction, or the extractor runs three times.

    Output is identical to ``assemble_conversations`` for every
    conversation (property-tested in test_assemble_chunked.py)."""
    heavy = (
        extracted.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > threshold_turns)
        .select("conv_id")
    )
    light_out = assemble_conversations(
        extracted.join(F.broadcast(heavy), "conv_id", "left_anti")
    )
    heavy_out = assemble_conversations_chunked(
        extracted.join(F.broadcast(heavy), "conv_id", "left_semi"),
        chunk_size=chunk_size,
    )
    return light_out.unionByName(heavy_out)


def with_turn_rank(extracted: DataFrame) -> DataFrame:
    """Row-preserving stable-ordering variant (W1/W2): row_number over
    (conv_id ORDER BY turn_idx)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return extracted.withColumn("turn_rank", F.row_number().over(w))


def pack_turns(
    extracted: DataFrame,
    budget_tokens: int,
    text_col: str = "extracted_text",
) -> DataFrame:
    """Context-window packing (W-family extension): assign each turn a
    ``pack_id`` within its conversation so downstream training sees
    fixed-token-budget slices of long conversations.

    Semantics are offset binning — a turn lands in the pack where its
    first token falls on the conversation's cumulative token stream
    (``pack_id = tokens_before_this_turn // budget``). This is the
    window-expressible variant: exact first-fit packing needs a
    sequential reset-on-overflow scan, while offset binning is one
    running sum over the same (conv_id, turn_idx) window the assembly
    path already uses — no extra shuffle shape, order-deterministic,
    and a pack overruns the budget by at most one turn's tokens (the
    straddling turn), which training-side truncation absorbs.

    Token counts are whitespace-split ints, so the running sum is
    integer-exact (no float accumulation drift across partitionings).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    tokens_before = F.sum(n_tok).over(w) - n_tok
    return extracted.withColumn(
        "pack_id", F.floor(tokens_before / F.lit(budget_tokens)).cast("int")
    )
