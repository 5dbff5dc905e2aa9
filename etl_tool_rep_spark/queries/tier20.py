"""Tier-20 queries (round 4): exact-oracle graph components + rolling
distinct reach.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the
LLM-data-pipeline surface mandated by BASELINE.json.

* `dedup_components_exact` upgrades the connected-components story:
  `near_dedup_clusters` (tier 3) is rows-only because MinHash
  candidates are sketch-dependent — here the SAME iterative
  min-label-propagation loop (`operators/cluster.connected_components`)
  runs over the EXACT 3-gram-Jaccard pair graph and is hash-matched
  against a DuckDB RECURSIVE CTE. After bfs_distances this is the
  second iterative operator with an exact SQL oracle, and the one
  that certifies the dedup clustering loop itself.
* `rolling_active_users` is the trailing-24 h distinct-user series —
  the operator behind every DAU/WAU dashboard. Spark has no
  COUNT(DISTINCT) OVER a range frame; the scalable form is the
  bounded fan-out expansion (each user-hour contributes to <= 24
  target hours) + one exact distinct aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import dedup as D
from ..operators.cluster import connected_components
from ..operators.graph import co_supplier_edges
from ..session import hold, pin
from . import shared_sql
from .registry import query

_COMP_HOPS = 6

# the exact-Jaccard candidate graph, shared (one definition, not a
# copy) with the ngram_jaccard_dedup oracle — the recursion below
# walks the graph those pairs induce
_PAIR_CTE = shared_sql.NGRAM_JACCARD_PAIRS_CTES


@query(
    "dedup_components_exact",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTE},
    edges AS (
      SELECT id_1 AS a, id_2 AS b FROM pairs
      UNION ALL
      SELECT id_2 AS a, id_1 AS b FROM pairs
    ), nodes AS (
      SELECT DISTINCT a AS id FROM edges
    ), walk(id, lbl, d) AS (
      SELECT id, id, 0 FROM nodes
      UNION
      SELECT e.b, w.lbl, w.d + 1
      FROM walk w JOIN edges e ON e.a = w.id
      WHERE w.d < {_COMP_HOPS}
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(MIN(lbl) AS BIGINT) AS component
    FROM walk GROUP BY id
    """,
)
def dedup_components_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (min-label within {hops} hops) over the
    EXACT 3-gram-Jaccard near-dup pair graph, hash-matched against a
    DuckDB RECURSIVE CTE. It runs `near_dedup_clusters`' own loop,
    `operators/cluster.connected_components`, so the oracle certifies
    the dedup clustering loop itself (rows-only there, because sketch
    candidates aren't SQL-reproducible; the exact pair graph is).

    Equivalence: the loop's initial label min(self, neighbors) is hop
    1 and each round v.lbl = min(v.lbl, min(neighbor lbls)) adds one
    more, so H - 1 rounds leave each node the min label reachable
    within <= H hops — the same quantity the CTE's bounded walk
    aggregates. Both sides use the bound H={hops}, so parity holds
    EVEN IF a component's diameter exceeds it (both report the same
    partial labels); a round that changes no label ends the loop
    early, since later rounds could not change one either.
    """
    docs = load(spark, sf_dir, "documents")
    # truncate the pair pipeline's lineage BEFORE the symmetrizing
    # union: pairs feeds both union branches, and without this the
    # gram self-join + jaccard filter (the dominant cost) would run
    # twice when the loop's eager edge checkpoint materializes
    pairs = pin(D.ngram_jaccard_pairs(docs, min_jaccard=0.05)
                 .select("id_1", "id_2"), eager=False)
    cc = connected_components(pairs, "id_1", "id_2",
                              max_iterations=_COMP_HOPS - 1)
    return cc.select(F.col("id").cast("bigint").alias("doc_id"),
                     F.col("cluster_id").cast("bigint")
                      .alias("component"))


dedup_components_exact.__doc__ = dedup_components_exact.__doc__.format(
    hops=_COMP_HOPS)


@query(
    "rolling_active_users",
    oracle="""
    WITH uh AS (
      SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
    ), hours AS (
      SELECT DISTINCT h FROM uh
    )
    SELECT hours.h AS hour,
           CAST(COUNT(DISTINCT uh.user_id) AS BIGINT) AS active_users
    FROM hours JOIN uh
      ON uh.h >= hours.h - INTERVAL 23 HOUR AND uh.h <= hours.h
    GROUP BY hours.h
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24 h distinct active users per hour bucket — the
    DAU-style rolling-reach series. Spark has no COUNT(DISTINCT)
    OVER a RANGE frame, and a naive range self-join explodes on hot
    windows; the distributable form is bounded fan-out: collapse to
    one row per (hour, user) FIRST (map-side combinable distinct —
    the corpus-sized reduction), then each user-hour contributes to
    at most 24 target hours (explode 0..23), then one exact distinct
    count per target hour. Shuffle volume is 24x user-hours, NOT
    24x events, and is independent of per-hour event skew.

    Target hours are restricted to buckets that actually contain
    events (semi-join) so both engines enumerate the same output
    domain. Hour arithmetic is integer-microsecond timestamp math —
    exact in both engines.
    """
    e = load(spark, sf_dir, "events")
    uh = pin(e.select(F.date_trunc("hour", F.col("ts")).alias("h"),
                      "user_id")
              .distinct(), eager=False)
    hours = uh.select("h").distinct()
    expanded = (uh.withColumn("k", F.explode(F.sequence(F.lit(0),
                                                        F.lit(23))))
                .select(F.timestamp_add("HOUR", F.col("k"), F.col("h"))
                         .alias("hour"), "user_id"))
    return (expanded
            .join(F.broadcast(hours.select(F.col("h").alias("hour"))),
                  "hour", "semi")
            .groupBy("hour")
            .agg(F.countDistinct("user_id").cast("bigint")
                  .alias("active_users")))


_PR_ITERS = 12
_PR_DAMP = 0.85


def _pr_round_sql(k: int) -> str:
    """One quantized power-iteration round as SQL. Contributions are
    quantized to INTEGER 1e-12 units (floor(x*1e12+0.5) -> BIGINT)
    before the per-node sum, so accumulation is exact integer
    arithmetic — order-independent in any engine, no decimal needed;
    the double ops around it are written in the same association on
    both sides."""
    return f""", c{k} AS (
      SELECT e.b AS id,
             CAST(floor(r.r / deg.d * 1e12 + 0.5) AS BIGINT) AS c
      FROM r{k - 1} r
      JOIN deg ON deg.a = r.id
      JOIN edges e ON e.a = r.id
    ), s{k} AS (
      SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c{k} GROUP BY id
    ), r{k} AS (
      SELECT n.id,
             floor(({1 - _PR_DAMP:.2f} / nn.n
                    + {_PR_DAMP} * (coalesce(s.s, 0) / 1e12))
                   * 1e12 + 0.5) / 1e12 AS r
      FROM nodes n LEFT JOIN s{k} s ON s.id = n.id, nn
    )"""


_PR_ORACLE = f"""
    WITH {shared_sql.CO_SUPPLIER_EDGES_CTES},
    deg AS MATERIALIZED (
      SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY a
    ), nodes AS MATERIALIZED (
      SELECT a AS id FROM deg
    ), nn AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
    ), r0 AS (
      SELECT id, floor(1.0 / nn.n * 1e12 + 0.5) / 1e12 AS r
      FROM nodes, nn
    )""" + "".join(_pr_round_sql(k)
                   for k in range(1, _PR_ITERS + 1)) + f"""
    SELECT CAST(id AS BIGINT) AS id, r AS pr FROM r{_PR_ITERS}
    """


@query("pagerank_exact", oracle=_PR_ORACLE)
def pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({iters} quantized power-iteration rounds, damping
    {damp}) over the co-supplier graph, hash-matched against a DuckDB
    oracle that chains the same rounds as CTEs — upgrading PageRank
    from a rows-only property check (`pagerank`, operators/graph.py)
    to an EXACT cross-engine oracle, the third iterative operator
    behind the SQL gate after bfs_distances and
    dedup_components_exact.

    What makes exactness possible: each round quantizes per-edge
    contributions to integer 1e-12 units (floor(r/deg * 1e12 + 0.5)
    as BIGINT) BEFORE summing, so the per-node aggregation — the one
    step whose float accumulation order differs between a parallel
    and a serial engine — is exact integer arithmetic. The remaining
    double ops (the damping update) are identically associated on
    both sides. Quantization perturbs ranks by < 1e-11 per round
    relative to unquantized PageRank — noise for ranking purposes,
    and BOTH engines apply the identical perturbation.

    The co-supplier graph is symmetric, so there are no dangling
    nodes by construction and the dangling-mass term is identically
    zero (operators/graph.pagerank keeps the general-graph handling
    for directed inputs).

    Scale: per round, one (ranks ⋈ deg ⋈ edges) shuffle keyed by the
    source node and one integer sum keyed by the target — the same
    volume profile as operators/graph.pagerank; each round's rank
    frame is node-sized and held on the driver (``session.hold``), so
    the next round's join broadcasts it. N arrives as a broadcast
    1-row aggregate, never a driver action.
    """
    edges = co_supplier_edges(load(spark, sf_dir, "lineitem"))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).cast("bigint")
                                  .alias("d"))
    # fold the (static) out-degree into the edge list ONCE — each
    # damping round then needs a single join against ranks instead of
    # rank ⋈ deg ⋈ edges (12 joins saved across the loop; identical
    # arithmetic, the oracle is unchanged)
    edges_w = pin(edges.join(deg, "a")
                       .select(F.col("a").alias("_ea"),
                               F.col("b").alias("_eb"), "d"))
    nodes = hold(deg.select(F.col("a").alias("id")))
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    # r13 (guide §2.4): the vertex count rides the rank frame as a
    # constant column instead of a per-round crossJoin(broadcast(nn))
    # (12 broadcast jobs + 12 scalar re-aggregations saved), and the
    # per-round `nodes LEFT JOIN s` is dropped outright: the
    # co-supplier graph is symmetric, so every node has >= 1 in-edge
    # and s already contains the full vertex set — the left join was
    # a no-op re-attach (its coalesce(s, 0) could never fire). Per
    # round: one join + one combinable sum, nothing else. Ranks are
    # bit-identical (same quantized arithmetic, same row set).
    r = (nodes.crossJoin(F.broadcast(nn))
              .select("id",
                      (F.floor(F.lit(1.0) / F.col("_n") * F.lit(1e12)
                               + F.lit(0.5)) / F.lit(1e12)).alias("r"),
                      "_n"))
    for _ in range(_PR_ITERS):
        c = (r.join(edges_w, F.col("id") == F.col("_ea"))
              .select(F.col("_eb").alias("id"),
                      F.floor(F.col("r") / F.col("d") * F.lit(1e12)
                              + F.lit(0.5)).cast("bigint").alias("c"),
                      "_n"))
        s = c.groupBy("id").agg(F.sum("c").cast("bigint").alias("s"),
                                F.max("_n").alias("_n"))
        r = hold(s.select("id",
                          (F.floor((F.lit(1 - _PR_DAMP) / F.col("_n")
                                    + F.lit(_PR_DAMP)
                                    * (F.col("s") / F.lit(1e12)))
                                   * F.lit(1e12) + F.lit(0.5))
                           / F.lit(1e12)).alias("r"),
                          "_n"))
    return r.select(F.col("id").cast("bigint").alias("id"),
                    F.col("r").alias("pr"))


pagerank_exact.__doc__ = pagerank_exact.__doc__.format(
    iters=_PR_ITERS, damp=_PR_DAMP)


_BF_ROUNDS = 6
_BF_INF = 1 << 60


def _bf_round_sql(k: int) -> str:
    """One Bellman-Ford relaxation as SQL: dist_k(v) = min(dist_{k-1}(v),
    min over in-edges (dist_{k-1}(u) + w(u,v))). Pure integer min-plus
    — no quantization needed, the algebra is exact by construction."""
    return f""", bf{k} AS (
      SELECT n.id,
             LEAST(n.d, COALESCE(MIN(p.d + e.w), {_BF_INF})) AS d
      FROM bf{k - 1} n
      LEFT JOIN wedges e ON e.b = n.id
      LEFT JOIN bf{k - 1} p ON p.id = e.a AND p.d < {_BF_INF}
      GROUP BY n.id, n.d
    )"""


_BF_ORACLE = f"""
    WITH li4 AS MATERIALIZED (
      -- deterministic 1/4 order sample: bounds the O(k^2) per-order
      -- edge expansion identically on both engines
      SELECT l_orderkey, l_suppkey FROM lineitem
      WHERE l_orderkey % 4 = 0
    ), wedges AS MATERIALIZED (
      SELECT l1.l_suppkey AS a, l2.l_suppkey AS b,
             CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS w
      FROM li4 l1
      JOIN li4 l2 ON l1.l_orderkey = l2.l_orderkey
                 AND l1.l_suppkey <> l2.l_suppkey
      GROUP BY 1, 2
    ), src AS (
      SELECT CAST(MIN(l_suppkey) AS BIGINT) AS s FROM li4
    ), bf0 AS (
      SELECT n.id,
             CASE WHEN n.id = src.s THEN CAST(0 AS BIGINT)
                  ELSE CAST({_BF_INF} AS BIGINT) END AS d
      FROM (SELECT DISTINCT a AS id FROM wedges) n, src
    )""" + "".join(_bf_round_sql(k)
                   for k in range(1, _BF_ROUNDS + 1)) + f"""
    SELECT id, d AS dist FROM bf{_BF_ROUNDS} WHERE d < {_BF_INF}
    """


@query("bellman_ford_exact", oracle=_BF_ORACLE)
def bellman_ford_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths ({rounds} Bellman-Ford
    relaxation rounds) over the co-supplier graph — edge weight =
    number of shared orders, source = the lowest supplier id —
    hash-matched against a DuckDB oracle chaining one relaxation CTE
    per round. Completes the graph-loop family behind the exact gate
    (bfs_distances = unweighted hops via RECURSIVE CTE;
    pagerank_exact = damped power iteration; this = min-plus over
    integer weights, which is EXACT with no quantization at all —
    the tropical semiring has no rounding).

    Spark side: classic iterative relaxation — each round joins the
    current distance frame to the weighted edge list and takes the
    elementwise min. Each round's node-sized distance frame is held
    on the driver (``session.hold``).
    Unreachable-within-{rounds} nodes carry the
    INF sentinel internally and are filtered at the end on BOTH
    engines.

    Scale: per round one shuffle keyed by edge target + one min
    aggregate — identical volume profile to pagerank_exact; the
    frontier optimization in bfs_distances applies here too when
    weights are uniform, but general Bellman-Ford must relax all
    edges (negative-cycle-free by construction: weights >= 1)."""
    # pre-distinct before the self-join (the kcore r12 m^2-fan-out
    # guard): countDistinct(l_orderkey) per pair is unchanged by
    # collapsing duplicate (order, supplier) rows, the join transient
    # shrinks quadratically in the per-order line multiplicity
    li = (load(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey")
          .filter(F.col("l_orderkey") % 4 == 0)
          .distinct())
    x, y = li.alias("x"), li.alias("y")
    wedges = pin(x.join(y, (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
                        & (F.col("x.l_suppkey") != F.col("y.l_suppkey")))
                  .groupBy(F.col("x.l_suppkey").alias("a"),
                           F.col("y.l_suppkey").alias("b"))
                  .agg(F.countDistinct("x.l_orderkey").cast("bigint")
                        .alias("w")))
    src = li.agg(F.min("l_suppkey").cast("bigint").alias("s")) \
            .collect()[0]["s"]
    d = (wedges.select(F.col("a").alias("id")).distinct()
         .select("id",
                 F.when(F.col("id") == src, F.lit(0).cast("bigint"))
                  .otherwise(F.lit(_BF_INF).cast("bigint")).alias("d")))
    for _ in range(_BF_ROUNDS):
        relaxed = (d.filter(F.col("d") < _BF_INF)
                    .join(wedges, F.col("id") == F.col("a"))
                    .select(F.col("b").alias("id"),
                            (F.col("d") + F.col("w")).alias("_cand"))
                    .groupBy("id")
                    .agg(F.min("_cand").alias("_best")))
        d = hold(d.join(relaxed, "id", "left")
                  .select("id",
                          F.least("d", F.coalesce("_best",
                                                  F.lit(_BF_INF)
                                                  .cast("bigint")))
                           .alias("d")))
    return (d.filter(F.col("d") < _BF_INF)
             .select("id", F.col("d").alias("dist")))


bellman_ford_exact.__doc__ = bellman_ford_exact.__doc__.format(
    rounds=_BF_ROUNDS)
