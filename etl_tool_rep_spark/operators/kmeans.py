"""Distributed k-means over an embedding column — the iterative-
algorithm pattern (cluster assignment for topic bucketing / dedup
pre-grouping in an LLM data pipeline).

Reference parity: the reference app (pandas/Streamlit rule engine,
/root/reference/main.py) has no clustering; this is part of the
driver-mandated LLM-pipeline extension surface (BASELINE.json).

Scale shape: centroids are k x dim floats — always driver-sized, so
each iteration is (1) broadcast centroids, (2) one narrow argmin pass
over the vectors, (3) one groupBy(cluster, dim) shuffle of partial
sums to re-estimate. Nothing driver-side ever holds the data itself;
100 TB of vectors stream through the same two stages per iteration.
Initialization is deterministic (first k vec_ids) so runs are
reproducible — no seeded RNG in the data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _centroid_lit(centroids: list) -> "F.Column":
    """k x dim constant as ONE parsed SQL literal — k*dim F.lit()
    Columns would cost thousands of py4j round-trips per iteration
    (measured seconds of driver time; same fix as knn.ivf_assign)."""
    return F.expr("array(%s)" % ",".join(
        "array(%s)" % ",".join(repr(float(x)) + "D" for x in c)
        for c in centroids))


def _sq_dists(vec_col, centroids: list) -> "F.Column":
    """Per-centroid squared L2 distances as one array column,
    evaluated JVM-side via transform + zip_with + aggregate."""
    return F.transform(
        _centroid_lit(centroids),
        lambda c: F.aggregate(
            F.zip_with(vec_col, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x))


def kmeans_assign(vectors: DataFrame, id_col: str, vec_col: str,
                  k: int = 8, n_iter: int = 5) -> DataFrame:
    """Lloyd's algorithm with deterministic init (lowest-k ids).

    Returns (id_col, cluster, sq_dist) — one row per input vector.
    Centroids live on the driver between iterations (k*dim floats);
    the data-sized work is fully distributed.
    """
    vecs = vectors.select(id_col, F.col(vec_col).cast("array<double>")
                          .alias("_v"))
    centroids = [r["_v"] for r in
                 vecs.orderBy(id_col).limit(k).collect()]

    assigned = None
    for _ in range(n_iter):
        dists = _sq_dists(F.col("_v"), centroids)
        assigned = vecs.select(
            id_col, "_v",
            F.array_position(dists, F.array_min(dists))
             .cast("int").alias("cluster"),
            F.array_min(dists).alias("sq_dist"))
        # re-estimate: element-wise mean per cluster via posexplode —
        # one shuffle of (cluster, dim) partial sums, mergeable at any
        # scale (no collect_list of whole vectors).
        new_rows = (assigned
                    .select("cluster",
                            F.posexplode("_v").alias("dim", "x"))
                    .groupBy("cluster", "dim").agg(F.avg("x").alias("m"))
                    .groupBy("cluster")
                    .agg(F.array_sort(F.collect_list(F.struct("dim", "m")))
                          .alias("pairs"))
                    .select("cluster",
                            F.transform("pairs", lambda p: p["m"])
                             .alias("centroid"))
                    .collect())
        by_cluster = {r["cluster"]: r["centroid"] for r in new_rows}
        centroids = [by_cluster.get(i + 1, centroids[i])
                     for i in range(k)]

    return assigned.select(id_col, "cluster", "sq_dist")
