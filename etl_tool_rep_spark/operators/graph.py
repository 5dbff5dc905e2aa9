"""Graph analytics: the co-supplier graph every graph key runs on, and
PageRank by distributed power iteration.

Each iteration is two joins + one aggregation, all keyed by vertex —
the canonical iterative-Spark shape (same discipline as
``cluster.connected_components``): lineage truncated per round by a
checkpoint, convergence measured by max rank delta.

Durability of the per-round cuts follows the session (``session.pin``).

Dangling-node mass (vertices with no out-edges) is folded back
uniformly each round, so ranks always sum to 1 — the original
Brin/Page formulation. Because mass is conserved, the dangling mass
equals 1 - sum(inflow), so it stays IN-PLAN as a broadcast 1-row
aggregate instead of a per-round driver collect. The convergence
delta rides the SAME job as the rank refresh: the new frame carries
the previous rank as a column, the round's checkpoint is lazy, and
the max-|delta| aggregate is the action that materializes it — a
probe round costs one job, not a checkpoint job plus a join job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin


def co_supplier_edges(lineitem: DataFrame) -> DataFrame:
    """The co-supplier graph of ``lineitem``: distinct (a, b) supplier
    pairs that share an order, each edge in both directions. Keys that
    want one orientation filter ``a < b``; Catalyst pushes the filter
    into the join condition.

    (order, supplier) is made distinct BEFORE the self-join: a
    supplier on m lines of one order would otherwise fan the join out
    m^2-fold per pair only for the final distinct to collapse it — at
    sf10 that was the 360M-row transient that OOM'd a 64 g heap
    (SCALE.md). The edge set is identical."""
    li = lineitem.select("l_orderkey", "l_suppkey").distinct()
    x, y = li.alias("x"), li.alias("y")
    return (x.join(y, (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
                   & (F.col("x.l_suppkey") != F.col("y.l_suppkey")))
             .select(F.col("x.l_suppkey").alias("a"),
                     F.col("y.l_suppkey").alias("b"))
             .distinct())


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             damping: float = 0.85, max_iterations: int = 30,
             tol: float = 1e-7) -> DataFrame:
    """PageRank over a directed edge list; returns (id, rank) with
    ranks summing to 1. Undirected graphs: pass each edge in both
    directions. Deterministic up to float summation order.

    Truncation cadence: measured at sf0.1 (local[32]), per-round
    eager truncation BEATS batching rounds into one lazy
    materialization (cadence 3: +25%, cadence 5: +73% wall time) —
    each lazy round stacks two joins plus a nested scalar aggregate
    feeding a broadcast, and Catalyst re-optimizes the whole stack
    at every action, swamping the per-job scheduling it saves. So:
    one checkpointed job per round, plan depth constant."""
    check_every = 5
    e = pin(edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
            .distinct())
    verts = pin(e.select(F.col("s").alias("id"))
                .unionByName(e.select(F.col("d").alias("id")))
                .distinct())
    n = verts.count()
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # out-degree is static: fold it into the edge list ONCE so every
    # round costs a single (ranks ⋈ weighted-edges) join instead of
    # rank ⋈ edges ⋈ deg — max_iterations joins saved, identical
    # arithmetic (same pattern as queries/tier20.pagerank_exact)
    ew = pin(e.join(out_deg, "s"))
    ranks = verts.withColumn("rank", F.lit(1.0 / n))

    for i in range(max_iterations):
        contribs = (ew.join(ranks, ew.s == ranks.id)
                      .select(F.col("d").alias("id"),
                              (F.col("rank") / F.col("deg"))
                              .alias("contrib")))
        inflow = contribs.groupBy("id").agg(
            F.sum("contrib").alias("inflow"))
        # mass conservation: sum(inflow) == 1 - dangling mass, so the
        # dangling redistribution stays in-plan (broadcast scalar)
        tot = inflow.agg(
            F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("_tot"))
        new_rank = (F.lit((1.0 - damping) / n)
                    + F.lit(damping / n) * (F.lit(1.0) - F.col("_tot"))
                    + damping * F.coalesce(F.col("inflow"), F.lit(0.0)))
        # ranks (id + rank) is the vertex frame — joining inflow onto
        # it both updates the rank and carries the previous value for
        # the fused convergence check
        stepped = (ranks.join(inflow, "id", "left")
                   .crossJoin(F.broadcast(tot))
                   .select("id", new_rank.alias("_new"),
                           F.col("rank").alias("_prev"))
                   .withColumnRenamed("_new", "rank"))
        if (i + 1) % check_every == 0 or i == max_iterations - 1:
            # lazy checkpoint: the delta aggregate is the action that
            # materializes this round — one job for update + probe
            ck = pin(stepped, eager=False)
            delta = ck.agg(
                F.max(F.abs(F.col("rank") - F.col("_prev")))).first()[0]
            ranks = ck.select("id", "rank")
            if delta is not None and delta < tol:
                break
        else:
            ranks = pin(stepped.select("id", "rank"))
    return ranks.select("id", "rank")
