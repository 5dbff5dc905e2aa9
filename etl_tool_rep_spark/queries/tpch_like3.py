"""Third batch of TPC-H-shaped queries (Q1/Q2/Q8/Q11/Q12/Q16/Q20/Q21
shapes), completing all 22 canonical shapes over this corpus.

The corpus has no ``partsupp`` table and no commit/receipt dates
(FIXTURES.md), so the partsupp-driven shapes (Q2/Q11/Q16/Q20) derive a
supplier-part relation from ``lineitem`` pairs and the lateness shapes
(Q12/Q21) measure ship-vs-order delay instead of receipt-vs-commit.
The *plan shapes* — correlated-min decorrelation, global-threshold
HAVING, count-distinct with NOT-IN exclusion, nested-IN semi joins,
EXISTS + NOT-EXISTS self-joins — are preserved exactly; those are what
matter at 100 TB, not the literal TPC-H parameters.

Determinism: floating aggregates route through ``DECIMAL(18,4)``
sums on both engines before any division; ratios divide two already-
identical doubles, so boundary comparisons agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from .registry import query
from .tier1 import _dec
from .tpch_like import _REV, _REV_DEC

# q1 salt fan-out: 1024 partials per group bounds each long partial
# sum to < 2^63 through ~sf1e5 (see tpch_q1_pricing docstring)
_Q1_SALTS = 1024


@query(
    "tpch_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) * 1e6 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e6 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 shape: the full pricing-summary report — 8 aggregates over a
    date-filtered scan, grouped by the 2-flag key (≤6 groups).

    Scale: the canonical map-side-combine showcase — partial aggs
    reduce each scan partition to ≤6x1024 salted partial rows
    before a tiny exchange (r13: two-level, see below); the shipdate
    filter pushes to the parquet scan. Averages are derived from the
    same exact sums as the sum columns (one pass, engine-identical
    float division).

    sum_charge sums exact integer MICRO-UNITS (floor(x*1e6 + 0.5))
    instead of casting the double product to DECIMAL(24,6) per row:
    Spark's double->decimal cast rounds the double's SHORTEST decimal
    repr (BigDecimal.valueOf) while DuckDB rounds its exact binary
    expansion, so rows whose shortest repr lands exactly on a .5 tie
    at the 6th decimal quantize differently — invisible at sf0.1,
    ~4 rows at sf1 (caught by the scale rehearsal's oracle run). The
    floor idiom evaluates identical doubles identically in both
    engines; the integer sum is exact — the salted level-1 partials
    bound each charge partial to ~sf1e3 (1e6-scaled terms; the
    1e4-scaled columns reach ~sf1e5), and the level-2 sums are
    decimal(38,0) for all five columns (r14) so nothing re-overflows
    above level 1 — and the final ->double + /1e6 rounds once,
    identically.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
    # r13 SALTED TWO-LEVEL SUMS (guide §2.5 two-level aggregation):
    # with only ~6 groups, every row funnels into a handful of
    # decimal(28,4) sum buffers — the decimal update dominated the
    # query (decimal sums 1.54 s vs long sums 0.70 s isolated at
    # sf0.1). Level 1 sums exact scaled-integer units (x * 1e4, exact
    # because x is decimal(18,4)) as LONGs per (group, salt-of-1024);
    # level 2 sums the ~6k long partials into decimal(38,0) and
    # rescales — the same rational number, the same correctly-rounded
    # double, verified bit-identical per group and by the oracle.
    # Overflow bound, level 1: the 1e4-scaled columns keep |xl| <=
    # 1e9 (price-scale), so their partials stay < 2^63 through
    # ~sf1e5 (100 TB) with ~90x margin; p_charge sums 1e6-scaled
    # micro-units (~100x wider terms), so ITS level-1 bound is
    # ~sf1e3 — still far past any rehearsal, and r14 made level 2
    # decimal(38,0) for ALL five sum columns including charge (the
    # r13 form left sum_charge's level 2 as a long sum, which is
    # what the r13 ADVICE flagged). The salt key derives from data
    # columns (deterministic under task retry, guide §2.5), never
    # rand().
    cnt = F.sum("p_cnt")
    D = "decimal(38,0)"
    scale4 = F.expr("CAST(0.0001 AS DECIMAL(5,4))")

    def xl(c):
        return (_dec(c) * 10000).cast("long")

    # salt from columns the aggregate already reads (no extra scan
    # width; deterministic under retry — pure function of row values)
    salt = F.pmod(F.xxhash64("l_extendedprice", "l_quantity",
                             "l_discount", "l_tax", "l_shipdate"),
                  F.lit(_Q1_SALTS))
    p = (li.groupBy("l_returnflag", "l_linestatus", salt.alias("_salt"))
         .agg(F.sum(xl("l_quantity")).alias("p_qty"),
              F.sum(xl("l_extendedprice")).alias("p_price"),
              F.sum(xl(_REV())).alias("p_disc"),
              F.sum(xl("l_discount")).alias("p_dsc"),
              F.sum(F.floor(_REV() * (1 + F.col("l_tax")) * 1e6 + 0.5)
                    .cast("long")).alias("p_charge"),
              F.count(F.lit(1)).alias("p_cnt")))
    sum_qty = (F.sum(F.col("p_qty").cast(D)) * scale4).cast("double")
    sum_price = (F.sum(F.col("p_price").cast(D)) * scale4).cast("double")
    return (p.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_price.alias("sum_base_price"),
        (F.sum(F.col("p_disc").cast(D)) * scale4).cast("double")
        .alias("sum_disc_price"),
        (F.sum(F.col("p_charge").cast(D)).cast("double") / 1e6)
        .alias("sum_charge"),
        (sum_qty / cnt).alias("avg_qty"),
        (sum_price / cnt).alias("avg_price"),
        ((F.sum(F.col("p_dsc").cast(D)) * scale4).cast("double") / cnt)
        .alias("avg_disc"),
        cnt.cast("bigint").alias("count_order")))


# Derived supplier-part relation standing in for partsupp: one row per
# (partkey, suppkey) pair observed in lineitem, costed at the minimum
# observed extended price (MIN over doubles is exact on both engines).
_PS_SQL = """
      SELECT l_partkey AS pk, l_suppkey AS sk,
             MIN(l_extendedprice) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey"""


def _ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy(F.col("l_partkey").alias("pk"),
                       F.col("l_suppkey").alias("sk"))
              .agg(F.min("l_extendedprice").alias("supplycost")))


@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    eu AS (
      SELECT ps.pk, ps.sk, ps.supplycost, s.s_name, n.n_name
      FROM ps
      JOIN supplier s ON ps.sk = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE')
    SELECT p.p_partkey AS partkey, p.p_name AS pname,
           eu.s_name AS sname, eu.n_name AS nation,
           eu.supplycost AS supplycost
    FROM eu JOIN part p ON eu.pk = p.p_partkey
    WHERE p.p_size <= 25 AND p.p_type = 'LARGE'
      AND eu.supplycost = (SELECT MIN(e2.supplycost) FROM eu e2
                           WHERE e2.pk = eu.pk)
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: cheapest EUROPE supplier per qualifying part — the
    correlated-MIN subquery decorrelated to a per-part window minimum.

    Scale: supplier/nation/region broadcast into the derived pair
    relation; the correlated subquery becomes ``min() over
    (partition by pk)`` on the already-aggregated (|parts|×|supps|)
    side — no second lineitem pass, no self-join shuffle.
    """
    ps = _ps(spark, sf_dir)
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey",
                                               F.col("s_name").alias("sname"))
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey",
                                             F.col("n_name").alias("nation"))
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (ps.join(F.broadcast(s), ps.sk == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    eu = eu.withColumn(
        "_min_cost", F.min("supplycost").over(Window.partitionBy("pk")))
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 25) & (F.col("p_type") == "LARGE")).select(
        F.col("p_partkey"), F.col("p_name").alias("pname"))
    return (eu.filter(F.col("supplycost") == F.col("_min_cost"))
              .join(F.broadcast(p), eu.pk == p.p_partkey)
              .select(F.col("p_partkey").alias("partkey"), "pname",
                      "sname", "nation", "supplycost"))


@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                         THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END)
                AS DOUBLE)
           / CAST(SUM(rev) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             {_REV_DEC} AS rev, ns.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1999-01-01') nations
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: NATION_5's share of ASIA-customer PROMO revenue per
    year — an 8-table snowflake with a conditional-ratio aggregate.

    Scale: every dimension (part, supplier, both nations, region,
    customer) broadcasts; the only big shuffle is lineitem⋈orders on
    orderkey. The share divides two decimal sums computed in the same
    agg — one pass, no re-join.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO") \
        .select("p_partkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"))
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))) \
        .select("o_orderkey", "o_custkey", "o_orderdate")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nc = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), "n_regionkey")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _dec(_REV())
    zero = F.lit(0).cast("decimal(18,4)")
    joined = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
                .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
                .join(F.broadcast(ns), s.s_nationkey == ns.ns_key)
                .join(o, li.l_orderkey == o.o_orderkey)
                .join(F.broadcast(c), o.o_custkey == c.c_custkey)
                .join(F.broadcast(nc), c.c_nationkey == nc.nc_key)
                .join(F.broadcast(r), nc.n_regionkey == r.r_regionkey)
                .select(F.year("o_orderdate").alias("o_year"),
                        rev.alias("rev"), "supp_nation"))
    return (joined.groupBy("o_year").agg(
        (F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("rev"))
                .otherwise(zero)).cast("double")
         / F.sum("rev").cast("double")).alias("mkt_share")))


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey AS partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS value_dec
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l.l_partkey)
    SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(value_dec AS DOUBLE) >
          1.2 * (SELECT CAST(SUM(value_dec) AS DOUBLE) / COUNT(*) FROM val)
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose stocked value (from NATION_3/7
    suppliers) exceeds 1.2x the per-part average — group agg gated by
    a global scalar threshold (fraction-of-total adapted so the gate
    stays non-trivial at every scale factor).

    Scale: one shuffle on partkey; the global total re-aggregates the
    per-part result (tiny) and attaches via a broadcast cross join —
    lineitem is scanned exactly once for both levels.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")).select("n_nationkey")
    val = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .groupBy(F.col("l_partkey").alias("partkey"))
             .agg(F.sum(_dec("l_extendedprice")).alias("value_dec")))
    total = val.agg(
        (F.sum("value_dec").cast("double")
         / F.count(F.lit(1))).alias("_avg"))
    return (val.crossJoin(F.broadcast(total))
               .filter(F.col("value_dec").cast("double")
                       > 1.2 * F.col("_avg"))
               .select("partkey",
                       F.col("value_dec").cast("double")
                        .alias("part_value")))


@query(
    "tpch_q12_ship_priority",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT',
                                                        '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND l.l_shipdate >= TIMESTAMP '1998-01-01'
      AND l.l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY l.l_linestatus
    """,
)
def tpch_q12_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: among 1998 lineitems shipped >30 days after their
    order, priority-split counts per line status (corpus has no
    shipmode/commit/receipt dates — ship-vs-order delay stands in).

    Scale: the shipdate year-range filter pushes to the scan; the
    join condition's delay predicate evaluates post-join but the
    orderkey equi-part drives a single sort-merge shuffle; CASE-gated
    counts collapse map-side to ≤4 groups.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")))
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # timestamp-preserving interval add (matches the oracle's
    # + INTERVAL 30 DAY; date_add would truncate time-of-day)
    return (li.join(o, (li.l_orderkey == o.o_orderkey)
                    & (li.l_shipdate
                       > o.o_orderdate + F.expr("INTERVAL 30 DAYS")))
              .groupBy(F.col("l_linestatus").alias("linestatus"))
              .agg(F.sum(F.when(high, 1).otherwise(0)).cast("bigint")
                    .alias("high_line_count"),
                   F.sum(F.when(~high, 1).otherwise(0)).cast("bigint")
                    .alias("low_line_count")))


@query(
    "tpch_q16_supplier_part_cnt",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS ptype, p.p_size AS psize,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_part_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per (brand, type, size)
    with a NOT-IN supplier exclusion (negative balance standing in
    for the complaints filter).

    Scale: the exclusion compiles to a broadcast left-anti join (the
    supplier dim is tiny); part filters broadcast-prune lineitem
    before the count-distinct's partial dedup shuffle.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36)).select(
        "p_partkey", F.col("p_brand").alias("brand"),
        F.col("p_type").alias("ptype"), F.col("p_size").alias("psize"))
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey,
                    "left_anti")
              .join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .groupBy("brand", "ptype", "psize")
              .agg(F.count_distinct("l_suppkey").cast("bigint")
                    .alias("supplier_cnt")))


@query(
    "tpch_q20_part_promotion",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey AS sk, l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'small%')
      GROUP BY l_suppkey, l_partkey)
    SELECT s.s_name AS sname, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT sh.sk FROM shipped sh
      JOIN (SELECT pk, MAX(qty) AS max_qty FROM shipped GROUP BY pk) m
        ON sh.pk = m.pk
      WHERE sh.qty > 0.5 * m.max_qty)
    """,
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers who shipped more than half the per-part
    1998 maximum of any 'small%' part — nested IN subqueries feeding
    a final semi join (availqty threshold adapted to shipped-qty max).

    Scale: the part-name IN prunes lineitem via a broadcast semi
    join before the (sk, pk) agg; the per-part max re-aggregates that
    small result and joins it back broadcast; the outer IN is a
    broadcast semi join into the 10-row supplier dim.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")))
    small = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    shipped = (li.join(F.broadcast(small), li.l_partkey == small.p_partkey,
                       "left_semi")
                 .groupBy(F.col("l_suppkey").alias("sk"),
                          F.col("l_partkey").alias("pk"))
                 .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty")))
    per_part_max = shipped.groupBy(F.col("pk").alias("mpk")).agg(
        F.max("qty").alias("max_qty"))
    qual = (shipped.join(F.broadcast(per_part_max),
                         shipped.pk == per_part_max.mpk)
                   .filter(F.col("qty") > 0.5 * F.col("max_qty"))
                   .select("sk"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").select("n_nationkey",
                                             F.col("n_name").alias("nation"))
    return (s.join(qual, s.s_suppkey == qual.sk, "left_semi")
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .select(F.col("s_name").alias("sname"), "nation"))


@query(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s.s_name AS sname, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON l1.l_orderkey = o.o_orderkey
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    ORDER BY numwait DESC, sname ASC
    LIMIT 20
    """,
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the last to ship in multi-
    supplier finished orders, shipping >60 days late — the EXISTS /
    NOT-EXISTS double self-join (receipt-vs-commit lateness adapted
    to ship-vs-order).

    Scale: both existence checks are left-semi / left-anti sort-merge
    joins on orderkey — the same key as the orders join, so AQE
    chains the three joins over one exchange of each side; lineitem
    is never row-duplicated into the aggregate.
    """
    li = load(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    # timestamp-preserving interval add (matches the oracle's
    # + INTERVAL 60 DAY; date_add would truncate time-of-day)
    late = (l1.join(o, (l1.l_orderkey == o.o_orderkey)
                    & (l1.l_shipdate
                       > o.o_orderdate + F.expr("INTERVAL 60 DAYS")))
              .select("l_orderkey", "l_suppkey", "l_shipdate"))
    l2 = li.select(F.col("l_orderkey").alias("o2"),
                   F.col("l_suppkey").alias("s2"))
    l3 = li.select(F.col("l_orderkey").alias("o3"),
                   F.col("l_suppkey").alias("s3"),
                   F.col("l_shipdate").alias("d3"))
    late = late.join(
        l2, (late.l_orderkey == l2.o2) & (late.l_suppkey != l2.s2),
        "left_semi")
    late = late.join(
        l3, (late.l_orderkey == l3.o3) & (late.l_suppkey != l3.s3)
        & (l3.d3 > late.l_shipdate), "left_anti")
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_name").alias("sname"))
    return (late.join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
                .groupBy("sname")
                .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
                .orderBy(F.col("numwait").desc(), F.col("sname").asc())
                .limit(20))
