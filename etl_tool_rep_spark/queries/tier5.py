"""Batch 5: interval-join binning, incremental aggregate maintenance,
null-safe joins, PageRank, and exact two-pass heavy hitters.

The scale stories:

* ``range_join_binned`` — the bin-the-interval trick: explode each
  interval into fixed-width time bins and equi-join on the bin, so a
  predicate-only (nested-loop) interval join becomes a hash join
  plus a residual filter. This is how Databricks' range-join hints
  and every streaming interval join actually execute.
* ``incremental_agg`` — materialized-view maintenance: aggregate
  states (sum/count/min/max) are mergeable monoids, so yesterday's
  partials + today's delta == full recompute without rescanning
  history. The oracle *is* the full recompute.
* ``pagerank`` — power iteration with per-round checkpointing
  (operators/graph.py), the GraphX/Pregel shape.
* ``heavy_hitters`` — Space-Saving candidates per partition + exact
  recount of the bounded candidate set (operators/sketches.py): the
  pattern for "top n-grams over 100 TB" where the key space itself
  cannot be shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.graph import co_supplier_edges, pagerank
from ..operators.sketches import heavy_hitters
from .registry import query


@query(
    "range_join_binned",
    oracle="""
    WITH days AS (
      SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
    intervals AS (
      SELECT (CAST(EXTRACT(epoch FROM day) AS BIGINT) // 86400) * 2
               AS interval_id,
             day + INTERVAL 6 HOUR AS lo, day + INTERVAL 12 HOUR AS hi
      FROM days
      UNION ALL
      SELECT (CAST(EXTRACT(epoch FROM day) AS BIGINT) // 86400) * 2 + 1,
             day + INTERVAL 10 HOUR, day + INTERVAL 18 HOUR
      FROM days)
    SELECT i.interval_id AS interval_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_value
    FROM intervals i
    JOIN events e ON e.ts >= i.lo AND e.ts < i.hi
    GROUP BY i.interval_id
    """,
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join executed as bin-equi-join: two
    overlapping daily windows (06-12, 10-18) per day, events matched
    by hour-bin hash join then exact range residual filter.

    Scale: the naive form is a BroadcastNestedLoopJoin — O(events x
    intervals) comparisons. Binning makes it a hash join on
    (hour_bin), with each interval exploded into its <=12 covering
    bins; cost becomes O(events + intervals * bins_per_interval) and
    it shuffles/broadcasts like any equi-join. The residual range
    check runs post-join in codegen.
    """
    ev = load(spark, sf_dir, "events")
    days = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    day_id = (F.unix_timestamp("day") / F.lit(86400)) \
        .cast("bigint") * 2
    mk = lambda off, lo_h, hi_h: days.select(  # noqa: E731
        (day_id + off).alias("interval_id"),
        (F.col("day") + F.expr(f"INTERVAL {lo_h} HOUR")).alias("lo"),
        (F.col("day") + F.expr(f"INTERVAL {hi_h} HOUR")).alias("hi"))
    intervals = mk(0, 6, 12).unionByName(mk(1, 10, 18))
    # explode each interval into covering hour bins -> equi join key
    binned = intervals.select(
        "interval_id", "lo", "hi",
        F.explode(F.sequence(
            (F.unix_timestamp("lo") / 3600).cast("bigint"),
            ((F.unix_timestamp("hi") - 1) / 3600).cast("bigint")))
         .alias("hbin"))
    evb = ev.withColumn(
        "hbin", (F.unix_timestamp("ts") / 3600).cast("bigint"))
    return (evb.join(F.broadcast(binned), "hbin")
               .filter((F.col("ts") >= F.col("lo"))
                       & (F.col("ts") < F.col("hi")))
               .groupBy("interval_id")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,4)"))
                     .cast("double").alias("sum_value")))


@query(
    "incremental_agg",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_total,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the "history" partial (orders
    <= 1998-01-01) merged with the "delta" partial (> 1998-01-01)
    must equal the full recompute — which is exactly what the oracle
    computes.

    Scale: the history partial is tiny (one row per group) and never
    rescanned; each refresh aggregates only the delta and merges
    monoid states (sum+sum, count+count, min/min, max/max). Decimal
    sums make the merge bit-identical to the recompute regardless of
    which side a row landed in.
    """
    o = load(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return (df.groupBy(F.col("o_orderpriority").alias("priority"))
                  .agg(F.sum(F.col("o_totalprice")
                             .cast("decimal(18,4)")).alias("_sum"),
                       F.count(F.lit(1)).alias("_cnt"),
                       F.min("o_orderdate").alias("_min"),
                       F.max("o_orderdate").alias("_max")))

    hist = partial(o.filter(F.col("o_orderdate") <= cut))
    delta = partial(o.filter(F.col("o_orderdate") > cut))
    merged = hist.unionByName(delta)
    return (merged.groupBy("priority")
                  .agg(F.sum("_sum").cast("double").alias("sum_total"),
                       F.sum("_cnt").alias("n_orders"),
                       F.min("_min").alias("first_order"),
                       F.max("_max").alias("last_order")))


@query(
    "null_safe_join",
    oracle="""
    WITH keyed AS (
      SELECT c_custkey, NULLIF(c_nationkey % 5, 2) AS grp_key,
             c_acctbal
      FROM customer),
    grp AS (
      SELECT grp_key, CAST(COUNT(*) AS BIGINT) AS grp_cnt,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               AS grp_bal
      FROM keyed GROUP BY grp_key)
    SELECT k.c_custkey AS custkey, k.grp_key AS grp_key,
           g.grp_cnt AS grp_cnt, g.grp_bal AS grp_bal
    FROM keyed k JOIN grp g
      ON k.grp_key IS NOT DISTINCT FROM g.grp_key
    """,
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (``<=>`` / IS NOT DISTINCT FROM): attach
    group aggregates back to rows where the group key itself can be
    NULL — a plain ``=`` join would silently drop the NULL group.

    Scale: ``eqNullSafe`` stays a hash join (NULL hashes like any
    value under null-safe semantics) — no fallback to nested loop.
    """
    c = load(spark, sf_dir, "customer")
    keyed = c.select(
        F.col("c_custkey").alias("custkey"),
        F.nullif(F.col("c_nationkey") % 5, F.lit(2)).alias("grp_key"),
        "c_acctbal")
    grp = (keyed.groupBy(F.col("grp_key").alias("gk"))
                .agg(F.count(F.lit(1)).alias("grp_cnt"),
                     F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
                      .cast("double").alias("grp_bal")))
    return (keyed.join(F.broadcast(grp),
                       keyed.grp_key.eqNullSafe(grp.gk))
                 .select("custkey", "grp_key", "grp_cnt", "grp_bal"))


@query("pagerank")  # rows-only: iterative fixpoint, no SQL equivalent
def pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-supplier graph (suppliers sharing an
    order, edges in both directions). Convergence and mass
    conservation are asserted in tests against a numpy power
    iteration on the same graph."""
    edges = co_supplier_edges(load(spark, sf_dir, "lineitem"))
    return (pagerank(edges, "a", "b", damping=0.85, max_iterations=30)
            .select(F.col("id").alias("supplier"),
                    F.round("rank", 7).alias("rank")))


@query(
    "heavy_hitters",
    oracle=r"""
    WITH words AS (
      SELECT UNNEST(str_split_regex(text, '\s+')) AS word
      FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM words)
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM words, tot
    GROUP BY word, tot.n
    HAVING COUNT(*) * 200 >= tot.n
    """,
)
def heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (words with >= 0.5% corpus frequency) via
    per-partition Space-Saving candidates + exact recount — matches
    the direct GROUP BY oracle exactly, by construction.

    Scale: pass 1 never shuffles the key space (k counters per
    partition -> bounded candidate set); pass 2 recounts only
    candidates via broadcast semi join. The direct groupBy the
    oracle runs would shuffle every distinct key — infeasible when
    the keys are, say, all 5-grams of a 100 TB corpus.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", r"\s+")).alias("word"))
    # cnt >= 0.5% of n, exact integer arithmetic (200*cnt >= n); the
    # total stays in-plan as a broadcast 1-row aggregate — no driver
    # .count() pre-job
    return heavy_hitters(words, "word", k=1000, min_share_denom=200)
