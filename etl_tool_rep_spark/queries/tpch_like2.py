"""Second batch of TPC-H-shaped analytical queries (Q4/Q6/Q7/Q9/Q13/
Q14/Q15/Q17/Q18/Q19/Q22 shapes, adapted to the corpus's columns).

Together with ``tpch_like.py`` (Q3/Q5/Q10) and ``tier1.groupby_agg``
(Q1) these cover the canonical relational plan shapes a warehouse
engine must get right at scale:

* **existence joins** (Q4 semi, Q22 anti) — no fact duplication, the
  probe side streams;
* **selective scan + scalar agg** (Q6, Q19) — predicate pushdown to
  parquet, no shuffle at all beyond the final partial-agg exchange;
* **snowflake fact-fact-dim** (Q7, Q9) — dims broadcast, the single
  big shuffle is the orders⋈lineitem sort-merge;
* **two-level aggregation** (Q13) — re-aggregate an aggregate;
* **correlated-average decorrelation** (Q17, Q22) — the per-group /
  global average is computed once and joined back, not re-evaluated
  per row;
* **group-filter-then-join** (Q15, Q18) — HAVING on an aggregate
  drives a later join.

Determinism note: every floating aggregate routes through
``DECIMAL(18,4)`` on both engines; derived thresholds (avg account
balance, per-part avg quantity) are built from the same decimal sums
so boundary comparisons agree bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from .registry import query
from .tier1 import _dec
from .tpch_like import _REV, _REV_DEC


@query(
    "tpch_q4_priority",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: priority counts for orders having at least one
    late-shipping lineitem (ship > orderdate + 60d).

    Scale: the EXISTS compiles to a LEFT SEMI sort-merge join on
    ``l_orderkey`` — lineitem is never duplicated into the agg, and
    the quarter filter prunes the orders scan before the shuffle.
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.date_add(o.o_orderdate, 60).cast("timestamp"))
    return (o.join(li, cond, "left_semi")
             .groupBy(F.col("o_orderpriority").alias("priority"))
             .agg(F.count(F.lit(1)).alias("order_count")))


@query(
    "tpch_q6_forecast",
    oracle=f"""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: revenue-change forecast — a pure scan-filter-agg.

    Scale: all three predicates push to the parquet scan
    (``PushedFilters``), only 3 columns are read, and the single
    exchange carries one partial-agg row per task.
    """
    li = load(spark, sf_dir, "lineitem")
    return (li.filter(
                (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
                & (F.col("l_discount") >= 0.04)
                & (F.col("l_discount") <= 0.08)
                & (F.col("l_quantity") < 24))
              .agg(F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount")))
                    .cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


@query(
    "tpch_q7_volume",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM({_REV_DEC}) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
    GROUP BY ns.n_name, nc.n_name, EXTRACT(year FROM l.l_shipdate)
    """,
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume between two nations by year.

    Scale: supplier and both nation legs broadcast (small dims); the
    only big exchange is lineitem⋈orders on orderkey, then
    orders⋈customer on custkey. The nation-pair disjunction is
    applied right after the broadcasts so the shuffled volume is
    already pruned to the two nations.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = n.select(F.col("n_nationkey").alias("ns_key"),
                  F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("nc_key"),
                  F.col("n_name").alias("cust_nation"))
    sn = (s.join(F.broadcast(ns), s.s_nationkey == ns.ns_key)
           .select("s_suppkey", "supp_nation"))
    cn = (c.join(F.broadcast(nc), c.c_nationkey == nc.nc_key)
           .select("c_custkey", "cust_nation"))
    pair = ((F.col("supp_nation") == "NATION_1")
            & (F.col("cust_nation") == "NATION_2")) | (
           (F.col("supp_nation") == "NATION_2")
            & (F.col("cust_nation") == "NATION_1"))
    return (li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
              .join(o, li.l_orderkey == o.o_orderkey)
              .join(cn, o.o_custkey == cn.c_custkey)
              .filter(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").alias("ship_year"))
              .agg(F.sum(_dec(_REV())).cast("double").alias("volume")))


@query(
    "tpch_q9_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - 0.6 * p.p_retailprice * l.l_quantity
                         AS DECIMAL(18,4))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    """,
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-line profit by supplier nation and year
    (cost proxied as 60% of retail price — corpus has no partsupp).

    Scale: part (name-filtered), supplier, nation all broadcast; the
    lineitem⋈orders orderkey shuffle dominates and AQE can coalesce
    its post-filter partitions. Profit expression folds into one
    decimal-routed column before the agg.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")) \
        .select("p_partkey", "p_retailprice")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("nation"))
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.6 * F.col("p_retailprice") * F.col("l_quantity"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
              .join(o, li.l_orderkey == o.o_orderkey)
              .groupBy("nation", F.year("o_orderdate").alias("o_year"))
              .agg(F.sum(_dec(profit)).cast("double").alias("profit")))


@query(
    "tpch_q13_custdist",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey,
                 CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey) per_cust
    GROUP BY c_count
    """,
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: distribution of per-customer order counts
    (two-level aggregate; LEFT JOIN keeps zero-order customers).

    Scale: first agg shuffles on custkey (same key as the join, so
    AQE reuses the exchange); second agg's key space is tiny (~the
    max order count) so its exchange is a few KB.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT") \
        .select("o_custkey", "o_orderkey")
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
             .groupBy("c_custkey")
             .agg(F.count("o_orderkey").alias("c_count"))
             .groupBy("c_count")
             .agg(F.count(F.lit(1)).alias("custdist")))


@query(
    "tpch_q14_promo",
    oracle=f"""
    SELECT CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                   THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))
                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS promo_pct,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share for one ship month.

    Scale: part broadcasts; the month filter pushes to the lineitem
    scan so the broadcast probe touches ~1/36 of the fact table. The
    conditional sum is a single-pass CASE aggregate, not two scans.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec(_REV())
    promo = F.when(F.col("p_type") == "PROMO", rev) \
             .otherwise(F.lit(0).cast("decimal(18,4)"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .agg((100.0 * F.sum(promo).cast("double")
                    / F.sum(rev).cast("double")).alias("promo_pct"),
                   F.count(F.lit(1)).alias("n_items")))


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             CAST(SUM({_REV_DEC}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey AS suppkey, s.s_name AS sname,
           r.total_revenue AS total_revenue
    FROM rev r JOIN supplier s ON r.suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) with the maximum quarterly revenue.

    Scale: revenue agg shuffles on suppkey once; the max attaches as
    a broadcast 1-row aggregate crossJoin (max is order-independent,
    ties all kept — identical to the oracle's scalar subquery), so
    no second pass over lineitem, no driver collect, and no
    single-partition window.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    rev = (li.groupBy(F.col("l_suppkey").alias("suppkey"))
             .agg(F.sum(_dec(_REV())).cast("double")
                   .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    top = (rev.crossJoin(F.broadcast(mx))
              .filter(F.col("total_revenue") == F.col("_mx"))
              .drop("_mx"))
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_name").alias("sname"))
    return (top.join(F.broadcast(s), top.suppkey == s.s_suppkey)
               .select("suppkey", "sname", "total_revenue"))


@query(
    "tpch_q17_small_qty",
    oracle="""
    WITH pavg AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           / 7.0 AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_small
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN pavg ON pavg.pk = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < 0.4 * pavg.avg_qty
    """,
)
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue lost to small-quantity orders of one brand
    (correlated per-part average, decorrelated into a join).

    Scale: the per-part average is one suppkey-wide agg joined back —
    Catalyst does exactly this for the correlated subquery form. The
    brand filter broadcasts through part and prunes the probe early.
    The avg is the same decimal-sum/count on both engines so the
    ``<`` boundary agrees bit-for-bit.
    """
    li = load(spark, sf_dir, "lineitem")
    pavg = (li.groupBy(F.col("l_partkey").alias("pk"))
              .agg((F.sum(_dec("l_quantity")).cast("double")
                    / F.count(F.lit(1))).alias("avg_qty")))
    p = load(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3").select("p_partkey")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(pavg, li.l_partkey == pavg.pk)
              .filter(F.col("l_quantity") < 0.4 * F.col("avg_qty"))
              .agg((F.sum(_dec("l_extendedprice")).cast("double") / 7.0)
                    .alias("avg_yearly"),
                   F.count(F.lit(1)).alias("n_small")))


@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c.c_name AS cname, o.o_orderkey AS okey,
           o.o_orderdate AS odate, o.o_totalprice AS totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150)
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY totalprice DESC, okey ASC
    LIMIT 20
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume orders (HAVING-driven IN filter),
    top-20 by total price with an orderkey tie-break.

    Scale: the HAVING agg and the outer join share the orderkey
    shuffle key, so the qualifying-key set joins as a LEFT SEMI
    without re-partitioning; AQE can convert it to broadcast when
    few orders qualify.
    """
    li = load(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum(_dec("l_quantity")).alias("_sq"))
             .filter(F.col("_sq") > 150).select("l_orderkey"))
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_name").alias("cname"))
    li2 = li.select(F.col("l_orderkey").alias("lk"), "l_quantity")
    return (o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
             .join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .join(li2, o.o_orderkey == F.col("lk"))
             .groupBy("cname", F.col("o_orderkey").alias("okey"),
                      F.col("o_orderdate").alias("odate"),
                      F.col("o_totalprice").alias("totalprice"))
             .agg(F.sum(_dec("l_quantity")).cast("double")
                   .alias("sum_qty"))
             .orderBy(F.col("totalprice").desc(), F.col("okey").asc())
             .limit(20))


@query(
    "tpch_q19_disjunction",
    oracle=f"""
    SELECT CAST(SUM({_REV_DEC.replace('l_', 'l.l_')}) AS DOUBLE)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive multi-attribute predicate across the
    join (brand/size from part, quantity from lineitem).

    Scale: Catalyst extracts the common single-side conjuncts
    (brand-or-brand-or-brand, size<=15, quantity<=30) and pushes
    them below the join, shrinking the broadcast and the probe; the
    residual OR evaluates post-join in codegen.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, z = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    disj = ((b == "Brand#1") & z.between(1, 5) & q.between(1, 11)) | \
           ((b == "Brand#2") & z.between(1, 10) & q.between(10, 20)) | \
           ((b == "Brand#3") & z.between(1, 15) & q.between(20, 30))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .filter(disj)
              .agg(F.sum(_dec(_REV())).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


@query(
    "tpch_q22_idle_customers",
    oracle="""
    WITH thresh AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             AS totacctbal
    FROM customer c, thresh
    WHERE c.c_acctbal > thresh.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: well-funded customers with no urgent orders, by
    nation (global-average threshold + anti join).

    Scale: the threshold is a 1-row broadcast cross join (scalar
    attach), the NOT EXISTS is a LEFT ANTI on custkey against only
    the o_custkey column, and the final agg groups by ~25 nations.
    The threshold is the same decimal-sum/count on both engines so
    the ``>`` boundary agrees bit-for-bit.
    """
    c = load(spark, sf_dir, "customer")
    thresh = (c.filter(F.col("c_acctbal") > 0.0)
               .agg((F.sum(_dec("c_acctbal")).cast("double")
                     / F.count(F.lit(1))).alias("avg_bal")))
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (c.crossJoin(F.broadcast(thresh))
             .filter(F.col("c_acctbal") > F.col("avg_bal"))
             .join(o, c.c_custkey == o.o_custkey, "left_anti")
             .groupBy(F.col("c_nationkey").alias("nationkey"))
             .agg(F.count(F.lit(1)).alias("numcust"),
                  F.sum(_dec("c_acctbal")).cast("double")
                   .alias("totacctbal")))
