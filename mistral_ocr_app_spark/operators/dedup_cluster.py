"""Near-duplicate clustering: candidate pairs → connected components →
canonical document per cluster.

The d-family queries (operators/corpus.py) emit candidate PAIRS
(MinHash/SimHash bucket collisions, embedding near-dups). A dedup
pipeline must then pick one survivor per duplicate CLUSTER, which is
connected components over the pair graph. At 10¹²-doc scale that is an
iterative DataFrame job — min-label propagation (each vertex adopts the
smallest label among itself and its neighbors) combined with pointer
jumping (each vertex then adopts its LABEL's label — path compression),
the two-phase formulation of MapReduce connected components (Kiveris et
al., "Connected Components in MapReduce and Beyond", public). Neighbor-
min alone moves labels one hop per round; the jump shortcuts label
chains. A 64-hop path converges in 6 rounds when its ids ascend, but
in 22 when they are shuffled: rounds still grow with the diameter.

Round 1 is fused into label set-up: labels start as the vertex itself,
so its neighbor-min is one aggregate, ``least(u, min(v))`` per ``u``.
Each round then stops on an edge-consistency check — one emptiness
probe for an edge whose endpoints carry different labels, the only
driver value per round. The check is exact: labels only decrease, stay
inside their component and satisfy ``label(x) ≤ x``, so once every edge
agrees a component carries one label, which is ≤ its minimum vertex
(that vertex's own label) and is itself a member (≥ the minimum).
``localCheckpoint`` truncates the growing lineage each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """pairs(src, dst) → (doc_id, component) with component = min doc_id
    reachable. Raises if the labels are not consistent after ``max_iter``
    rounds."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    stepped = edges.groupBy("u").agg(
        F.least("u", F.min("v")).alias("component")
    ).withColumnRenamed("u", "doc_id")
    for _ in range(max_iter):
        # pointer jumping: component = component's component
        parent = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("component").alias("p_comp")
        )
        labels = (
            stepped.join(parent, stepped.component == parent.p_id, "left")
            .select("doc_id", F.coalesce("p_comp", "component").alias("component"))
            .localCheckpoint(eager=True)
        )
        la = labels.select(F.col("doc_id").alias("u"), F.col("component").alias("cu"))
        lb = labels.select(F.col("doc_id").alias("v"), F.col("component").alias("cv"))
        if (
            edges.filter(F.col("u") < F.col("v"))  # one orientation suffices
            .join(la, "u")
            .join(lb, "v")
            .filter(F.col("cu") != F.col("cv"))
            .isEmpty()
        ):
            return labels
        # neighbor min: component = min over {self} ∪ neighbors' labels
        nbr_min = edges.join(lb, "v").groupBy(F.col("u").alias("doc_id")).agg(
            F.min("cv").alias("nbr_component")
        )
        stepped = labels.join(nbr_min, "doc_id").select(
            "doc_id", F.least("component", "nbr_component").alias("component")
        )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def canonicalize(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Full dedup mapping: every doc → its canonical survivor.

    Docs not in any pair map to themselves; paired docs map to the
    smallest id in their connected component (the reference-style
    deterministic winner — same min-id rule as d1's ``canonical_id``)."""
    comp = connected_components(pairs, src=src, dst=dst, max_iter=20)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("canonical_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))
    )
