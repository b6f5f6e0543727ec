"""Near-duplicate clustering: connected components over the pair
graph — the step that turns pairwise similarity into dedup groups
(A~B, B~C ⇒ {A,B,C} even when A and C were never compared).

Iterative min-label propagation (the standard large-graph CC
algorithm — Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014 is the canonical treatment):

    label(v) ← min(label(v), min over neighbors' labels)

repeated to fixpoint. Each iteration is one equi-join + one groupBy —
both shuffles keyed by vertex id, so a round costs O(E) regardless of
cluster count. Near-dup graphs have tiny diameters (dup groups are
cliques-ish), so convergence is typically 2-4 rounds; the cap guards
pathological chains. ``localCheckpoint`` truncates lineage each round
(an iterative-algorithm necessity: otherwise the plan doubles every
iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id) + (id_a, id_b) edges → (id, cluster_id = min id reachable).

    Rows with no edges form singleton clusters (cluster_id = own id).
    """
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = ids.select(
        F.col(id_col).alias("vid"), F.col(id_col).alias("label")
    ).localCheckpoint()

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.vid)
            .groupBy(F.col("dst").alias("vid2"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.vid == neighbor_min.vid2, "left")
            .select(
                "vid",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("_old"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    return labels.select(F.col("vid").alias(id_col), F.col("label").alias("cluster_id"))
