"""PageRank vs numpy power iteration; heavy-hitter exactness on
skewed synthetic data."""

import json
import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_tool_rep_spark.catalog import load
from etl_tool_rep_spark.operators.cluster import connected_components
from etl_tool_rep_spark.operators.graph import pagerank
from etl_tool_rep_spark.operators.sketches import heavy_hitters

_WORKER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "durable_pin_worker.py")


def _co_supplier_edges(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l1 = li.toDF("ok", "a")
    l2 = li.toDF("ok2", "b")
    return (l1.join(l2, (F.col("ok") == F.col("ok2"))
                    & (F.col("a") != F.col("b")))
              .select(F.col("a").alias("src"), F.col("b").alias("dst"))
              .distinct())


def test_pagerank_matches_numpy(spark, sf_dir):
    edges = _co_supplier_edges(spark, sf_dir)
    got = {r["id"]: r["rank"]
           for r in pagerank(edges, max_iterations=40,
                             tol=1e-10).collect()}
    # numpy reference on the same edge list
    es = [(r["src"], r["dst"]) for r in edges.collect()]
    nodes = sorted({v for e in es for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for s, d in es:
        M[idx[d], idx[s]] = 1.0
    out_deg = M.sum(axis=0)
    dangling = out_deg == 0
    Mn = np.divide(M, np.where(dangling, 1.0, out_deg),
                   where=~dangling[None, :])
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(200):
        r = (1 - d) / n + d * (Mn @ r + r[dangling].sum() / n)
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-6


def test_pagerank_dangling_nodes(spark):
    # 1 -> 2 -> 3, 3 has no out-edges (dangling)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], ["src", "dst"])
    got = {r["id"]: r["rank"]
           for r in pagerank(edges, max_iterations=60,
                             tol=1e-12).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[3] > got[2] > 0  # chain accumulates rank downstream


def test_heavy_hitters_exact_on_skew(spark):
    # zipf-ish: key_0 appears 1000x, key_1 500x, tail keys once each
    rows = ([("key_0",)] * 1000 + [("key_1",)] * 500
            + [(f"tail_{i}",) for i in range(2000)])
    df = spark.createDataFrame(rows, ["word"]).repartition(8)
    n = df.count()
    thresh = (n + 199) // 200  # 0.5%
    got = {r["word"]: r["cnt"]
           for r in heavy_hitters(df, "word", min_count=thresh,
                                  k=300).collect()}
    # exact ground truth via direct groupBy
    want = {r["word"]: r["cnt"]
            for r in df.groupBy("word")
                       .agg(F.count(F.lit(1)).alias("cnt"))
                       .filter(F.col("cnt") >= thresh).collect()}
    assert got == want
    assert got["key_0"] == 1000 and got["key_1"] == 500


def test_pagerank_reliable_checkpoint_matches_local(spark, sf_dir,
                                                   tmp_path):
    """With spark.checkpoint.dir set, every session.pin is a reliable
    checkpoint: pagerank and connected_components return what the
    local-pin path returns, and a registry query (kmeans_exact) still
    passes its oracle while writing checkpoint files. The durable side
    runs in its own driver process, because a SparkContext's checkpoint
    directory cannot be unset and would leak into every later test."""
    assert spark.sparkContext.getCheckpointDir() is None
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (4, 1)], ["src", "dst"])
    local = {str(r["id"]): r["rank"]
             for r in pagerank(edges, max_iterations=20).collect()}
    local_cc = sorted([r["id"], r["cluster_id"]]
                      for r in connected_components(edges, "src", "dst")
                      .collect())

    ckpt, out = tmp_path / "ckpt", tmp_path / "out.json"
    proc = subprocess.run(
        [sys.executable, _WORKER, str(ckpt), sf_dir, str(out)],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(_WORKER)))
    assert proc.returncode == 0, proc.stderr[-3000:]
    durable = json.loads(out.read_text())

    assert durable["ranks"] == pytest.approx(local, abs=1e-12)
    assert durable["components"] == local_cc
    assert durable["kmeans_ok"]
    assert durable["kmeans_new_files"] > 0
