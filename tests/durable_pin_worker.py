"""Subprocess worker for test_pagerank_reliable_checkpoint_matches_local
(test_graph_sketches.py). It runs in its own Spark driver whose
session starts with ``spark.checkpoint.dir`` set, so every
``session.pin`` in it is a reliable checkpoint. A checkpoint directory
cannot be unset on a live SparkContext, which is why this side of the
comparison cannot share the test suite's session.

argv: <checkpoint_dir> <sf_dir> <out_json>

Writes to <out_json>:
  ranks       — pagerank on the test's fixed edge list, {id: rank}
  components  — connected_components on the same edges, [[id, cid]]
  kmeans_ok   — kmeans_exact at <sf_dir> equals its DuckDB oracle
  kmeans_new_files — checkpoint files that kmeans_exact added
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracle import duck_connection, normalize_rows  # noqa: E402

from etl_tool_rep_spark.operators.cluster import (  # noqa: E402
    connected_components)
from etl_tool_rep_spark.operators.graph import pagerank  # noqa: E402
from etl_tool_rep_spark.queries import ORACLES, QUERIES  # noqa: E402
from etl_tool_rep_spark.session import get_spark  # noqa: E402

EDGES = [(1, 2), (2, 3), (3, 1), (2, 1), (4, 1)]


def _files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


def main() -> None:
    ckpt, sf_dir, out = sys.argv[1:4]
    spark = get_spark("durable_pin_worker", extra_conf={
        "spark.checkpoint.dir": ckpt,
        "spark.sql.shuffle.partitions": "4",
        "spark.driver.memory": "2g",
    })
    assert spark.sparkContext.getCheckpointDir()
    edges = spark.createDataFrame(EDGES, ["src", "dst"])
    ranks = {str(r["id"]): r["rank"]
             for r in pagerank(edges, max_iterations=20).collect()}
    comps = sorted([r["id"], r["cluster_id"]]
                   for r in connected_components(edges, "src", "dst")
                   .collect())

    before = _files(ckpt)
    sdf = QUERIES["kmeans_exact"](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duck_connection(sf_dir)
    rel = con.sql(ORACLES["kmeans_exact"])
    kmeans_ok = (normalize_rows(sdf.columns, srows)
                 == normalize_rows(rel.columns, rel.fetchall()))
    new_files = len(_files(ckpt) - before)

    with open(out, "w") as fh:
        json.dump({"ranks": ranks, "components": comps,
                   "kmeans_ok": kmeans_ok,
                   "kmeans_new_files": new_files}, fh)
    spark.stop()


if __name__ == "__main__":
    main()
