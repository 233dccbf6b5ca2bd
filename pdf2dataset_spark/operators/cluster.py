"""Near-duplicate clustering: connected components over a pair list.

Dedup pair generators (MinHash LSH f2a, exact Jaccard f2b, embedding
cosine f13) emit EDGES; corpus dedup needs the transitive closure —
"keep one document per connected component". This is the canonical
iterative-DataFrame algorithm (SURVEY §2 notes iterative algorithms
as the non-SQL-expressible class): smallest-label propagation until
fixpoint.

Scale posture: each round is one join + one aggregate on
(node, label) pairs — narrow rows, hash-partitioned on node — and ONE
action: the eager localCheckpoint that cuts the lineage (otherwise
plans grow exponentially). The aggregate carries each node's old label
next to its new one, and an Observation on the checkpointed frame
counts the changed nodes, so convergence costs no join and no second
count. The loop runs to the fixpoint; the min-label rule reaches it in
diameter + 1 rounds, which for near-dup clusters is small (dup
clusters are cliques or short chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """(node, component) for every node in `edges`, component = the
    smallest node id reachable from it. Deterministic."""
    both_ways = F.array(
        F.struct(F.col(id1).alias("src"), F.col(id2).alias("dst")),
        F.struct(F.col(id2).alias("src"), F.col(id1).alias("dst")),
    )
    sym = (
        edges.select(F.explode(both_ways).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    changed = 1
    while changed:
        neighbor_labels = sym.join(labels, sym.src == labels.node).select(
            F.col("dst").alias("node"),
            "component",
            F.lit(None).alias("old"),
        )
        changes = Observation()
        labels = (
            labels.select("node", "component", F.col("component").alias("old"))
            .union(neighbor_labels)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("old").alias("old"),
            )
            .observe(
                changes,
                F.count_if(F.col("component") != F.col("old")).alias("n"),
            )
            .select("node", "component")
            .localCheckpoint(eager=True)
        )
        changed = changes.get["n"]
    return labels


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """Keep one representative (the smallest id) per near-dup
    component; rows not in any pair survive untouched. The standard
    final step after LSH/Jaccard pair generation."""
    comp = connected_components(pairs, id1, id2)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_by_components_quality(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """Quality-aware canonicalization: per near-dup component keep the
    member with the HIGHEST `quality_col` (ties → lowest id), not just
    the smallest id — the curation-grade final step (keep the longest/
    cleanest duplicate, drop the rest).

    One CC fixpoint + one groupBy on components + one anti join; the
    corpus itself is never shuffled, only the (small) clustered
    subset."""
    comp = connected_components(pairs, id1, id2)
    members = df.select(
        F.col(id_col).alias("__m_id"), F.col(quality_col).alias("__q")
    ).join(comp, F.col("__m_id") == F.col("node"))
    winners = members.groupBy("component").agg(
        F.max_by(
            "__m_id", F.struct(F.col("__q"), (-F.col("__m_id")).alias("__neg"))
        ).alias("__keep_id")
    )
    losers = (
        members.join(winners, "component")
        .filter(F.col("__m_id") != F.col("__keep_id"))
        .select(F.col("__m_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")
