"""Tier 1 — core relational surface (SURVEY.md §2.2).

Thin, declarative DataFrame/SQL plans over the star schema; Catalyst
does pushdown/pruning/join-selection. The work here is hash-stable
oracle parity (SURVEY.md §7 watch list):

* float aggregates go through ``DECIMAL(18,4)`` on BOTH sides so
  Spark's parallel partial aggregation and DuckDB's serial sum produce
  bit-identical results, then cast back to double;
* DuckDB's ``SUM(BIGINT)`` returns HUGEINT and ``floor``/``ceil``
  return DOUBLE — both sides cast explicitly;
* sorts that feed ``row_number``/``limit`` always carry a unique
  tie-break key;
* transcendental functions (ln/sqrt/exp) are rounded to 6 decimals on
  both sides (JVM libm vs glibc can differ in the last ulp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from .registry import query


def _dec(col, scale: int = 4):
    """Cast a double expression to decimal for exact aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# filter / project
# ---------------------------------------------------------------------------

@query(
    "filter_predicate",
    oracle="""
    SELECT o_orderkey AS okey, o_orderstatus AS status,
           o_totalprice AS total, o_orderpriority AS priority
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
      AND o_totalprice BETWEEN 50000 AND 200000
      AND o_orderpriority LIKE '1%'
      AND NOT (o_orderkey % 10 = 0)
      AND o_orderdate IS NOT NULL
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT, IN, BETWEEN, LIKE, null-test — all pushed to the
    parquet scan by Catalyst (PushedFilters in .explain)."""
    o = load(spark, sf_dir, "orders")
    return (o.filter(F.col("o_orderstatus").isin("F", "O")
                     & F.col("o_totalprice").between(50000, 200000)
                     & F.col("o_orderpriority").like("1%")
                     & ~(F.col("o_orderkey") % 10 == 0)
                     & F.col("o_orderdate").isNotNull())
             .select(F.col("o_orderkey").alias("okey"),
                     F.col("o_orderstatus").alias("status"),
                     F.col("o_totalprice").alias("total"),
                     F.col("o_orderpriority").alias("priority")))


@query(
    "project_compute",
    oracle="""
    SELECT l_orderkey AS okey, l_linenumber AS lineno,
           l_extendedprice * (1 - l_discount) AS revenue,
           (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge,
           l_quantity * 2 + 1 AS qty2
    FROM lineitem
    """,
)
def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level arithmetic stays deterministic across engines (same
    IEEE ops in the same order) — no rounding needed."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("revenue"),
        ((F.col("l_extendedprice") * (1 - F.col("l_discount")))
         * (1 + F.col("l_tax"))).alias("charge"),
        (F.col("l_quantity") * 2 + 1).alias("qty2"))


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

_JOIN_ORACLE = """
    SELECT o.o_orderkey AS okey, o.o_totalprice AS total,
           c.c_custkey AS ckey, c.c_name AS cname
    FROM orders o {HOW} JOIN customer c ON o.o_custkey = c.c_custkey
"""


def _join(spark, sf_dir, how: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (o.join(c, o.o_custkey == c.c_custkey, how)
             .select(o.o_orderkey.alias("okey"),
                     o.o_totalprice.alias("total"),
                     c.c_custkey.alias("ckey"),
                     c.c_name.alias("cname")))


@query("inner_join", oracle=_JOIN_ORACLE.format(HOW="INNER"))
def inner_join(spark, sf_dir):
    return _join(spark, sf_dir, "inner")


@query("left_join", oracle=_JOIN_ORACLE.format(HOW="LEFT"))
def left_join(spark, sf_dir):
    return _join(spark, sf_dir, "left")


@query("right_join", oracle=_JOIN_ORACLE.format(HOW="RIGHT"))
def right_join(spark, sf_dir):
    return _join(spark, sf_dir, "right")


@query("full_join", oracle=_JOIN_ORACLE.format(HOW="FULL"))
def full_join(spark, sf_dir):
    return _join(spark, sf_dir, "full")


@query(
    "semi_join",
    oracle="""
    SELECT c_custkey AS ckey, c_name AS cname FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
    """,
)
def semi_join(spark, sf_dir):
    """Existence join: no row multiplication, probe side streams."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    c = load(spark, sf_dir, "customer")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select(F.col("c_custkey").alias("ckey"),
                     F.col("c_name").alias("cname")))


@query(
    "anti_join",
    oracle="""
    SELECT c_custkey AS ckey, c_name AS cname FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select(F.col("c_custkey").alias("ckey"),
                     F.col("c_name").alias("cname")))


@query(
    "broadcast_join",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def broadcast_join(spark, sf_dir):
    """Small dim explicitly broadcast: the fact table never shuffles
    for the join — the only shuffle is the final (tiny) aggregation.
    This is the 100 TB-safe shape for fact⋈dim."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .groupBy(F.col("p_brand").alias("brand"))
              .agg(F.sum(_dec(rev)).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_lines")))


@query(
    "theta_join_range",
    oracle="""
    SELECT s.s_suppkey AS skey, c.c_custkey AS ckey,
           s.s_acctbal AS s_bal, c.c_acctbal AS c_bal
    FROM supplier s JOIN customer c
      ON s.s_nationkey = c.c_nationkey
     AND s.s_acctbal > c.c_acctbal
     AND c.c_acctbal > 9000
    """,
)
def theta_join_range(spark, sf_dir):
    """Non-equi range join. The equi part (nationkey) still hash
    partitions, so the range predicate only fans out within a nation —
    at scale this avoids the full cross-product a pure theta join
    would imply."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    return (s.join(c, (s.s_nationkey == c.c_nationkey)
                   & (s.s_acctbal > c.c_acctbal)
                   & (c.c_acctbal > 9000))
             .select(F.col("s_suppkey").alias("skey"),
                     F.col("c_custkey").alias("ckey"),
                     F.col("s_acctbal").alias("s_bal"),
                     F.col("c_acctbal").alias("c_bal")))


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------

@query(
    "groupby_agg",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS avg_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           CAST(COUNT(*) AS BIGINT) AS count_order,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_agg(spark, sf_dir):
    """TPC-H Q1-shaped hash aggregate: sum/avg/min/max/count/
    count-distinct with map-side partial aggregation.

    The distinct count runs as its own grouped aggregate joined back
    on the (4-group) keys: mixing it into the main agg triggers
    Catalyst's Expand rewrite (every row duplicated through the
    shuffle, null-padded — measured ~2x on this query). The join back
    is null-safe, so NULL groups survive it as GROUP BY keeps them."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    keys = [F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus")]
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02")
                         .cast("timestamp"))
    base = (filtered.groupBy(*keys)
            .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(_dec("l_extendedprice")).cast("double")
                  .alias("sum_base_price"),
                 F.sum(_dec(disc_price)).cast("double")
                  .alias("sum_disc_price"),
                 (F.sum(_dec("l_quantity")).cast("double")
                  / F.count(F.lit(1))).alias("avg_qty"),
                 F.min("l_extendedprice").alias("min_price"),
                 F.max("l_extendedprice").alias("max_price"),
                 F.count(F.lit(1)).alias("count_order")))
    nd = (filtered.groupBy(*keys)
          .agg(F.countDistinct("l_partkey").alias("n_parts")))
    on = (F.col("b.returnflag").eqNullSafe(F.col("n.returnflag"))
          & F.col("b.linestatus").eqNullSafe(F.col("n.linestatus")))
    return (base.alias("b").join(F.broadcast(nd.alias("n")), on)
            .select("b.*", "n.n_parts"))


_ROLLUP_AGG_SPARK = lambda g: g.agg(  # noqa: E731
    F.count(F.lit(1)).alias("n_orders"),
    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
     .alias("total"))

_ROLLUP_AGG_SQL = """
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
"""


@query(
    "grouping_rollup",
    oracle=f"""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           {_ROLLUP_AGG_SQL}
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def grouping_rollup(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return _ROLLUP_AGG_SPARK(
        o.rollup(F.col("o_orderstatus").alias("status"),
                 F.col("o_orderpriority").alias("priority")))


@query(
    "grouping_cube",
    oracle=f"""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           {_ROLLUP_AGG_SQL}
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def grouping_cube(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return _ROLLUP_AGG_SPARK(
        o.cube(F.col("o_orderstatus").alias("status"),
               F.col("o_orderpriority").alias("priority")))


@query(
    "grouping_sets",
    oracle=f"""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           {_ROLLUP_AGG_SQL}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets(spark, sf_dir):
    """Exercises the spark.sql entry point over a registered view."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(f"""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               {_ROLLUP_AGG_SQL}
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@query(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority
    FROM orders
    """,
)
def distinct_rows(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (o.select(F.col("o_orderstatus").alias("status"),
                     F.col("o_orderpriority").alias("priority"))
             .distinct())


@query(
    "approx_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_within_5pct,
           TRUE AS orders_within_5pct
    FROM lineitem
    """,
)
def approx_distinct(spark, sf_dir):
    """HyperLogLog count-distinct. The raw HLL estimate is
    engine-specific, so the declared contract is SQL-attestable:
    the exact distinct counts plus booleans asserting the Spark HLL
    estimate (rsd=0.02) landed within 5% of exact — deterministic for
    a fixed input, and the oracle states the booleans must be TRUE."""
    li = load(spark, sf_dir, "lineitem")
    # three independent 1-row aggregates crossJoined instead of one
    # agg mixing two distinct column sets + two HLLs: the combined
    # form triggers Catalyst's Expand rewrite (every row replicated
    # once per distinct set through the shuffle — measured 2.5x
    # slower); split, each subtree partial-aggregates map-side with
    # no row multiplication and the join sides are single rows
    hll = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02)
         .alias("approx_orders"))
    ep = li.agg(F.countDistinct("l_partkey").cast("bigint")
                .alias("exact_parts"))
    eo = li.agg(F.countDistinct("l_orderkey").cast("bigint")
                .alias("exact_orders"))
    agg = hll.crossJoin(F.broadcast(ep)).crossJoin(F.broadcast(eo))
    pct = lambda a, e: (F.abs(F.col(a) - F.col(e))
                        <= 0.05 * F.col(e))  # noqa: E731
    return agg.select(
        "exact_parts", "exact_orders",
        pct("approx_parts", "exact_parts").alias("parts_within_5pct"),
        pct("approx_orders", "exact_orders").alias("orders_within_5pct"))


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------

@query(
    "window_rank",
    oracle="""
    SELECT c_custkey AS ckey, c_mktsegment AS segment,
           c_acctbal AS acctbal,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC)
    """,
)
def window_rank(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.col("c_acctbal").desc_nulls_last(),
                  F.col("c_custkey").asc()))
    return c.select(
        F.col("c_custkey").alias("ckey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"))


@query(
    "window_running",
    oracle="""
    SELECT o_orderkey AS okey, o_custkey AS ckey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def window_running(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc_nulls_last(),
                  F.col("o_orderkey").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
        F.sum(_dec("o_totalprice")).over(w).cast("double")
         .alias("running_total"))


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_orderkey AS okey, o_custkey AS ckey,
           o_totalprice AS total,
           LAG(o_totalprice) OVER w AS prev_total,
           LEAD(o_totalprice) OVER w AS next_total,
           o_totalprice - COALESCE(LAG(o_totalprice) OVER w, 0.0) AS delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC)
    """,
)
def window_lag_lead(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc_nulls_last(),
                  F.col("o_orderkey").asc()))
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
        F.col("o_totalprice").alias("total"),
        prev.alias("prev_total"),
        F.lead("o_totalprice").over(w).alias("next_total"),
        (F.col("o_totalprice") - F.coalesce(prev, F.lit(0.0)))
        .alias("delta"))


# ---------------------------------------------------------------------------
# sort / limit / set ops
# ---------------------------------------------------------------------------

@query(
    "sort_order",
    oracle="""
    SELECT c_custkey AS ckey, c_acctbal AS acctbal, c_mktsegment AS segment
    FROM customer
    ORDER BY c_acctbal DESC NULLS LAST, c_mktsegment ASC NULLS FIRST,
             c_custkey ASC
    """,
)
def sort_order(spark, sf_dir):
    """Multi-key sort with explicit null placement (Spark's ASC default
    is nulls-first, DuckDB's nulls-last — never rely on defaults)."""
    c = load(spark, sf_dir, "customer")
    return (c.select(F.col("c_custkey").alias("ckey"),
                     F.col("c_acctbal").alias("acctbal"),
                     F.col("c_mktsegment").alias("segment"))
             .orderBy(F.col("acctbal").desc_nulls_last(),
                      F.col("segment").asc_nulls_first(),
                      F.col("ckey").asc()))


@query(
    "topk_limit",
    oracle="""
    SELECT o_orderkey AS okey, o_totalprice AS total
    FROM orders
    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
    LIMIT 100
    """,
)
def topk_limit(spark, sf_dir):
    """Deterministic top-k (unique tie-break) — Spark executes as a
    per-partition TakeOrderedAndProject, no full sort."""
    o = load(spark, sf_dir, "orders")
    return (o.select(F.col("o_orderkey").alias("okey"),
                     F.col("o_totalprice").alias("total"))
             .orderBy(F.col("total").desc_nulls_last(),
                      F.col("okey").asc())
             .limit(100))


@query(
    "union_all",
    oracle="""
    SELECT c_nationkey AS nk, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nk, 'supplier' AS side FROM supplier
    """,
)
def union_all(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"), F.lit("customer").alias("side"))
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"), F.lit("supplier").alias("side"))
    return c.unionByName(s)


@query(
    "intersect_op",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def intersect_op(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"))
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@query(
    "except_op",
    oracle="""
    SELECT n_nationkey AS nk FROM nation
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def except_op(spark, sf_dir):
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"))
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"))
    # subtract == EXCEPT DISTINCT (set semantics); exceptAll().distinct()
    # would wrongly keep values the right side only partially cancels
    return n.subtract(s)


@query(
    "pivot_op",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_op(spark, sf_dir):
    """Pivot with an explicit value list — at scale never let Spark
    infer pivot values (that's an extra scan + huge dictionaries)."""
    o = load(spark, sf_dir, "orders")
    piv = (o.groupBy(F.col("o_orderpriority").alias("priority"))
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.count(F.lit(1))))
    return piv.select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0)).alias("f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("p"))


# ---------------------------------------------------------------------------
# scalar function families
# ---------------------------------------------------------------------------

@query(
    "string_funcs",
    oracle="""
    SELECT c_custkey AS ckey,
           upper(c_mktsegment) AS seg_upper,
           lower(c_name) AS name_lower,
           substr(c_name, 1, 8) AS name_prefix,
           c_name || '/' || c_mktsegment AS name_seg,
           regexp_extract(c_name, 'Customer#(\\d+)', 1) AS cust_num,
           CAST(length(c_name) AS BIGINT) AS name_len,
           CAST(len(str_split(c_name, '#')) AS BIGINT) AS n_parts,
           trim(c_mktsegment) AS seg_trim,
           lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nk_pad,
           regexp_replace(c_name, '0+', '0', 'g') AS name_squash
    FROM customer
    """,
)
def string_funcs(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("ckey"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_name").alias("name_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).alias("cust_num"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.size(F.split("c_name", "#")).cast("bigint").alias("n_parts"),
        F.trim(F.col("c_mktsegment")).alias("seg_trim"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nk_pad"),
        F.regexp_replace("c_name", "0+", "0").alias("name_squash"))


@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey AS okey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
               AS month_start,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mth,
           CAST(day(o_orderdate) AS BIGINT) AS dom,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(datediff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr
    FROM orders
    """,
)
def date_funcs(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mth"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1995-01-01").cast("date"))
        .cast("bigint").alias("days_since"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"))


@query(
    "math_funcs",
    oracle="""
    SELECT o_orderkey AS okey,
           round(o_totalprice / 7, 2) AS price_div,
           abs(o_totalprice - 150000.0) AS price_dev,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_kfloor,
           CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_kceil,
           round(sqrt(o_totalprice), 6) AS price_sqrt,
           round(ln(o_totalprice), 6) AS price_ln,
           round(power(o_totalprice, 0.25), 6) AS price_pow,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod,
           CAST(sign(o_totalprice - 150000.0) AS DOUBLE) AS dev_sign
    FROM orders WHERE o_totalprice > 0
    """,
)
def math_funcs(spark, sf_dir):
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    tp = F.col("o_totalprice")
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.round(tp / 7, 2).alias("price_div"),
        F.abs(tp - 150000.0).alias("price_dev"),
        F.floor(tp / 1000).cast("bigint").alias("price_kfloor"),
        F.ceil(tp / 1000).cast("bigint").alias("price_kceil"),
        F.round(F.sqrt(tp), 6).alias("price_sqrt"),
        F.round(F.log(tp), 6).alias("price_ln"),
        F.round(F.pow(tp, 0.25), 6).alias("price_pow"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod"),
        F.signum(tp - 150000.0).cast("double").alias("dev_sign"))


@query(
    "null_funcs",
    oracle="""
    SELECT o_orderkey AS okey,
           nullif(o_orderstatus, 'O') AS status_or_null,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
           (nullif(o_orderstatus, 'O') IS NULL) AS is_open,
           CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 0.0
                ELSE o_totalprice END AS closed_total
    FROM orders
    """,
)
def null_funcs(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    son = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        F.col("o_orderkey").alias("okey"),
        son.alias("status_or_null"),
        F.coalesce(son, F.lit("OPEN")).alias("status_filled"),
        son.isNull().alias("is_open"),
        F.when(son.isNull(), F.lit(0.0)).otherwise(F.col("o_totalprice"))
         .alias("closed_total"))


@query(
    "json_funcs",
    oracle="""
    SELECT event_id AS eid,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) > 50)
               AS k_high
    FROM events
    """,
)
def json_funcs(spark, sf_dir):
    """JSON string column (events.props) field extraction — the
    reference flattens JSON at load (main.py:82-83); here extraction
    is an expression, pushable and codegen'd."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        F.col("event_id").alias("eid"),
        k.alias("k_str"),
        k.cast("bigint").alias("k_num"),
        (k.cast("bigint") > 50).alias("k_high"))


@query(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           embedding[1] AS first_elem,
           array_to_string(
               list_transform(embedding[1:3],
                   x -> CAST(CAST(round(CAST(x AS DOUBLE), 5)
                                  AS DECIMAL(12,5)) AS VARCHAR)), ',')
               AS head3,
           round(list_sum(CAST(embedding AS DOUBLE[])), 6) AS vec_sum,
           label IN (0, 1) AS label_low
    FROM embeddings
    """,
)
def array_funcs(spark, sf_dir):
    """Array slice/element/aggregate built-ins. The sliced head is
    serialized to a comma-joined decimal string (round→DECIMAL→string
    is identical across engines, unlike raw double repr) so the
    declared output carries no list-typed cells for the driver's
    hasher."""
    em = load(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.element_at("embedding", 1).alias("first_elem"),
        F.array_join(
            F.transform(
                F.slice("embedding", 1, 3),
                lambda x: F.round(x.cast("double"), 5)
                           .cast("decimal(12,5)").cast("string")),
            ",").alias("head3"),
        F.round(F.aggregate(
            "embedding", F.lit(0.0),
            lambda acc, x: acc + x.cast("double")), 6).alias("vec_sum"),
        F.col("label").isin(0, 1).alias("label_low"))


@query(
    "explode_op",
    oracle="""
    SELECT p_partkey AS pkey, unnest(str_split(p_name, ' ')) AS word
    FROM part
    """,
)
def explode_op(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.select(F.col("p_partkey").alias("pkey"),
                    F.explode(F.split("p_name", " ")).alias("word"))


@query(
    "udf_scalar",
    oracle="""
    SELECT o_orderkey AS okey,
           round(1.0 / (1.0 + exp(-(o_totalprice - 150000.0) / 50000.0)), 6)
               AS score
    FROM orders
    """,
)
def udf_scalar(spark, sf_dir):
    """Arrow-vectorized pandas UDF (the sanctioned slow path — never
    row-at-a-time Python). The oracle recomputes the same sigmoid in
    SQL; 6-decimal rounding absorbs libm ulp differences."""
    from ..functions import sigmoid_score

    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.round(sigmoid_score(F.col("o_totalprice")), 6).alias("score"))
