"""Connected-components dedup clustering: hand-checked graphs."""

from etl_tool_rep_spark.operators import cluster
from etl_tool_rep_spark.operators.cluster import (connected_components,
                                                  dedup_clusters)


def test_chain_and_islands(spark):
    # chain 1-2-3 (transitive), pair 10-11, isolated 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_1 long, id_2 long")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # path graph 0-1-2-...-9: worst-case diameter for propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_1 long, id_2 long")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(10)}


def test_cut_loop_reaches_max_iterations_plus_one_hops(spark):
    # path 0-1-...-9 cut after 2 iterations: each vertex is labeled
    # with the min id within 3 hops (the bound dedup_components_exact
    # and grid_dbscan rely on)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_1 long, id_2 long")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs, max_iterations=2)
           .collect()}
    assert got == {i: max(0, i - 3) for i in range(10)}


def test_settled_labels_exit_early(spark, monkeypatch):
    # path 1-2-3-4 settles after 2 iterations; the third finds no
    # change and ends the loop long before max_iterations=20
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                  "id_1 long, id_2 long")
    pins = []
    real_pin = cluster.pin
    monkeypatch.setattr(cluster, "pin",
                        lambda df, eager=True: pins.append(eager)
                        or real_pin(df, eager))
    cut = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs, max_iterations=2)
           .collect()}
    pins.clear()
    full = {r["id"]: r["cluster_id"]
            for r in connected_components(pairs, max_iterations=20)
            .collect()}
    assert cut == full == {1: 1, 2: 1, 3: 1, 4: 1}
    assert pins == [True] + [False] * 3  # the edge list, then 3 rounds


def test_dedup_clusters_keep_verdicts(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)],
                                  "id_1 long, id_2 long")
    all_ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 7]],
                                    "doc_id long")
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup_clusters(pairs, all_ids).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   7: (7, True)}
