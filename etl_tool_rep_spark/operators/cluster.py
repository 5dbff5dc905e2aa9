"""Connected components over candidate-duplicate pairs — turns
pairwise near-dup evidence (MinHash/SimHash/Jaccard output) into
dedup clusters with a canonical representative per cluster.

Algorithm: iterative min-label propagation (a distributed union-find
approximation):

    label(v) <- min(label(v), min over neighbors(label(n)))

repeated until no label changes. Each iteration is one join + one
aggregation (shuffle by vertex, at the session's shuffle width) and
runs as ONE job: the aggregate carries each vertex's previous label
beside its new one, and the convergence probe over that pair is the
action that materializes the round's lazy pin. Convergence takes
O(diameter) iterations — near-dup clusters are tiny and star-shaped,
so 2-4 rounds in practice. The pin truncates the growing lineage
each round (without it, iteration k re-executes all k-1 prior joins
and the driver eventually OOMs planning the plan tree — the classic
iterative-Spark failure at scale); its durability follows the
session (``session.pin``).

This is one of the declared non-SQL-expressible operators (rows-only
oracle): the fixpoint loop has no single-query SQL equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin


def connected_components(pairs: DataFrame,
                         src: str = "id_1", dst: str = "id_2",
                         max_iterations: int = 20) -> DataFrame:
    """Cluster ids from an undirected edge list.

    Returns (id, cluster_id) where cluster_id is the minimum vertex id
    reachable from ``id``; isolated vertices are not emitted (callers
    left-join and coalesce to self). Deterministic for any input.

    The initial label min(self, neighbors) covers one hop and each
    iteration one more, so a loop cut by ``max_iterations`` labels
    each vertex with the min id within ``max_iterations + 1`` hops
    (tier20's `dedup_components_exact` and tier32's `grid_dbscan`
    rely on this bound)."""
    edges = pin(pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
                .unionByName(
                    pairs.select(F.col(dst).alias("a"),
                                 F.col(src).alias("b")))
                .distinct())

    # initial label: min neighbor vs self
    labels = (edges.groupBy("a")
              .agg(F.least(F.min("b"), F.first("a")).alias("label"))
              .select(F.col("a").alias("id"), "label"))

    for _ in range(max_iterations):
        # propagate: my new label = min(my label, labels of neighbors);
        # my own row alone carries _own, so min(_own) is my old label
        neighbor_labels = (edges
                           .join(labels, edges.b == labels.id)
                           .select(F.col("a").alias("id"), "label",
                                   F.lit(None).alias("_own")))
        stepped = (labels.withColumn("_own", F.col("label"))
                   .unionByName(neighbor_labels)
                   .groupBy("id")
                   .agg(F.min("label").alias("label"),
                        F.min("_own").alias("_prev")))
        # lazy pin: the convergence probe is the action that
        # materializes this round — one job for update + probe
        ck = pin(stepped, eager=False)
        changed = ck.agg(
            F.max(F.col("label") != F.col("_prev"))).first()[0]
        labels = ck.select("id", "label")
        if not changed:
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_clusters(pairs: DataFrame, all_ids: DataFrame,
                   id_col: str = "doc_id",
                   src: str = "id_1", dst: str = "id_2") -> DataFrame:
    """Full dedup decision table: every id mapped to its cluster
    representative (itself when no near-dup evidence), plus a
    keep/drop verdict (keep = the representative)."""
    cc = connected_components(pairs, src, dst)
    out = (all_ids.select(F.col(id_col))
           .join(cc, all_ids[id_col] == cc.id, "left")
           .select(F.col(id_col),
                   F.coalesce(F.col("cluster_id"), F.col(id_col))
                    .alias("cluster_id")))
    return out.withColumn("keep", F.col(id_col) == F.col("cluster_id"))
