"""K-means contracts backing the rows-only kmeans_topics query:
monotone inertia, full coverage, deterministic reruns."""

from pyspark.sql import functions as F

from etl_tool_rep_spark.catalog import load
from etl_tool_rep_spark.operators.kmeans import kmeans_assign


def _inertia_per_iter(vectors, k, n_iter):
    """Total within-cluster squared distance after each iteration."""
    return [kmeans_assign(vectors, "vec_id", "embedding", k=k, n_iter=i)
            .agg(F.sum("sq_dist")).collect()[0][0]
            for i in range(1, n_iter + 1)]


def test_inertia_monotone_decreasing(spark, sf_dir):
    em = load(spark, sf_dir, "embeddings")
    inertia = _inertia_per_iter(em, k=4, n_iter=3)
    assert all(b <= a * (1 + 1e-9)
               for a, b in zip(inertia, inertia[1:])), inertia


def test_assignments_cover_all_rows_once(spark, sf_dir):
    em = load(spark, sf_dir, "embeddings")
    a = kmeans_assign(em, "vec_id", "embedding", k=4, n_iter=2)
    n = em.count()
    assert a.count() == n
    assert a.select("vec_id").distinct().count() == n
    clusters = [r["cluster"] for r in
                a.select("cluster").distinct().collect()]
    assert set(clusters) <= set(range(1, 5)) and len(clusters) >= 2


def test_deterministic_rerun(spark, sf_dir):
    em = load(spark, sf_dir, "embeddings")
    a1 = kmeans_assign(em, "vec_id", "embedding", k=4, n_iter=2)
    a2 = kmeans_assign(em, "vec_id", "embedding", k=4, n_iter=2)
    assert a1.select("vec_id", "cluster").exceptAll(
        a2.select("vec_id", "cluster")).count() == 0
