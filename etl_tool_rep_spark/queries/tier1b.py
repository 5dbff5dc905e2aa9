"""Tier 1b — extended relational surface: statistical aggregates,
percentiles, collected lists, subquery shapes, richer window frames.

Same hash-stability rules as tier1 (decimal routing, 6-decimal
rounding for moment-based statistics whose parallel accumulation
differs from a serial oracle, unique sort tie-breaks, sorted arrays
for collect_* whose accumulation order is partition-dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rank import grouped_row_number
from ..session import pin
from .registry import query


@query(
    "stats_funcs",
    oracle="""
    SELECT c_mktsegment AS segment,
           round(stddev_samp(c_acctbal), 6) AS bal_stddev,
           round(var_samp(c_acctbal), 6) AS bal_var,
           round(avg(c_acctbal), 6) AS bal_avg,
           round(corr(c_acctbal, CAST(c_custkey AS DOUBLE)), 6)
               AS bal_key_corr,
           round(covar_samp(c_acctbal, CAST(c_nationkey AS DOUBLE)), 6)
               AS bal_nation_cov
    FROM customer GROUP BY c_mktsegment
    """,
)
def stats_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (stddev/var/corr/covar) — rounded at 6dp:
    Spark's parallel co-moment merge and DuckDB's serial pass differ
    in float ulps."""
    c = load(spark, sf_dir, "customer")
    return (c.groupBy(F.col("c_mktsegment").alias("segment"))
             .agg(F.round(F.stddev_samp("c_acctbal"), 6)
                   .alias("bal_stddev"),
                  F.round(F.var_samp("c_acctbal"), 6).alias("bal_var"),
                  F.round(F.avg("c_acctbal"), 6).alias("bal_avg"),
                  F.round(F.corr("c_acctbal",
                                 F.col("c_custkey").cast("double")), 6)
                   .alias("bal_key_corr"),
                  F.round(F.covar_samp(
                      "c_acctbal", F.col("c_nationkey").cast("double")), 6)
                   .alias("bal_nation_cov")))


@query(
    "percentile_agg",
    oracle="""
    SELECT l_returnflag AS returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS q25,
           round(quantile_cont(l_quantity, 0.5), 6) AS median,
           round(quantile_cont(l_quantity, 0.75), 6) AS q75,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles with linear interpolation (Spark
    ``percentile`` == DuckDB ``quantile_cont``). For 100 TB use
    approx_percentile — exact percentile holds the group in memory."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy(F.col("l_returnflag").alias("returnflag"))
              .agg(F.round(F.percentile("l_quantity", F.lit(0.25)), 6)
                    .alias("q25"),
                   F.round(F.percentile("l_quantity", F.lit(0.5)), 6)
                    .alias("median"),
                   F.round(F.percentile("l_quantity", F.lit(0.75)), 6)
                    .alias("q75"),
                   F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6)
                    .alias("price_p90")))


@query(
    "collect_funcs",
    oracle="""
    SELECT o_orderpriority AS priority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
               AS statuses,
           CAST(len(list(DISTINCT o_orderstatus)) AS BIGINT) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def collect_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + sort_array: collection order is partition-
    dependent, so collected arrays are ALWAYS sorted before they leave
    the operator (determinism rule). The collected set is serialized
    with array_join so the declared output is scalar-typed — the
    driver's hasher requires hashable (non-list) cells."""
    o = load(spark, sf_dir, "orders")
    return (o.groupBy(F.col("o_orderpriority").alias("priority"))
             .agg(F.array_join(F.sort_array(F.collect_set("o_orderstatus")),
                               ",").alias("statuses"),
                  F.size(F.collect_set("o_orderstatus")).cast("bigint")
                   .alias("n_statuses")))


@query(
    "window_first_last",
    oracle="""
    SELECT o_orderkey AS okey, o_custkey AS ckey,
           first_value(o_totalprice) OVER w AS first_total,
           last_value(o_totalprice) OVER
             (PARTITION BY o_custkey
              ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_total,
           nth_value(o_totalprice, 2) OVER
             (PARTITION BY o_custkey
              ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    wb = (Window.partitionBy("o_custkey")
          .orderBy(F.col("o_orderdate").asc_nulls_last(),
                   F.col("o_orderkey").asc()))
    wfull = wb.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
        F.first("o_totalprice").over(wb).alias("first_total"),
        F.last("o_totalprice").over(wfull).alias("last_total"),
        F.nth_value("o_totalprice", 2).over(wfull).alias("second_total"))


@query(
    "percent_rank_cume",
    oracle="""
    SELECT c_custkey AS ckey,
           round(percent_rank() OVER w, 9) AS pct_rank,
           round(cume_dist() OVER w, 9) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal ASC NULLS LAST, c_custkey ASC)
    """,
)
def percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist per market segment, WITHOUT the
    native window: only ~5 segments exist, so a partitioned window
    is one task per segment — n/5 rows each at 100 TB. The ORDER BY
    is total (custkey tiebreak), so rank == row_number, cume_dist ==
    rk/ng and percent_rank == (rk-1)/(ng-1); the rank comes from the
    bucketed two-phase `operators.rank.grouped_row_number` (round 7)
    and the group sizes from a broadcast 5-row aggregate. Same
    doubles as the native functions (identical operand division)."""
    c = load(spark, sf_dir, "customer")
    ngs = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("_ng"))
    r = (grouped_row_number(
            c, ["c_mktsegment"],
            [F.col("c_acctbal").asc_nulls_last(),
             F.col("c_custkey").asc()],
            lead="c_acctbal", nulls_last=True, out="_rk")
         .join(F.broadcast(ngs), "c_mktsegment"))
    pct = F.when(F.col("_ng") > 1,
                 (F.col("_rk") - 1).cast("double")
                 / (F.col("_ng") - 1).cast("double")).otherwise(0.0)
    return r.select(
        F.col("c_custkey").alias("ckey"),
        F.round(pct, 9).alias("pct_rank"),
        F.round(F.col("_rk").cast("double")
                / F.col("_ng").cast("double"), 9).alias("cume"))


@query(
    "having_clause",
    oracle="""
    SELECT o_custkey AS ckey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_spent
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def having_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (o.groupBy(F.col("o_custkey").alias("ckey"))
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                   .cast("double").alias("total_spent"))
             .filter(F.col("n_orders") >= 15))


@query(
    "scalar_subquery",
    oracle="""
    SELECT o_orderkey AS okey, o_totalprice AS total
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery through the spark.sql front door."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql("""
        SELECT o_orderkey AS okey, o_totalprice AS total
        FROM orders_sq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_sq)
    """)


@query(
    "exists_correlated",
    oracle="""
    SELECT s_suppkey AS skey, s_name AS sname
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_nationkey = s.s_nationkey
                    AND c.c_acctbal > 9990)
    """,
)
def exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst decorrelates it into a left-semi
    join automatically."""
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_sq")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    return spark.sql("""
        SELECT s_suppkey AS skey, s_name AS sname
        FROM supplier_sq s
        WHERE EXISTS (SELECT 1 FROM customer_sq c
                      WHERE c.c_nationkey = s.s_nationkey
                        AND c.c_acctbal > 9990)
    """)


@query(
    "in_subquery",
    oracle="""
    SELECT p_partkey AS pkey, p_brand AS brand
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem
                        WHERE l_quantity >= 49)
    """,
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "part").createOrReplaceTempView("part_sq")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sq")
    return spark.sql("""
        SELECT p_partkey AS pkey, p_brand AS brand
        FROM part_sq
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem_sq
                            WHERE l_quantity >= 49)
    """)


@query(
    "topn_per_group",
    oracle="""
    SELECT ckey, cname, segment, acctbal, rn FROM (
      SELECT c_custkey AS ckey, c_name AS cname,
             c_mktsegment AS segment, c_acctbal AS acctbal,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC)
             AS BIGINT) AS rn
      FROM customer)
    WHERE rn <= 3
    """,
)
def topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group (window + filter): Spark optimizes the
    rn <= k filter into WindowGroupLimit — per-partition heaps, no
    full sort of each group."""
    c = load(spark, sf_dir, "customer")
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.col("c_acctbal").desc_nulls_last(),
                  F.col("c_custkey").asc()))
    return (c.select(F.col("c_custkey").alias("ckey"),
                     F.col("c_name").alias("cname"),
                     F.col("c_mktsegment").alias("segment"),
                     F.col("c_acctbal").alias("acctbal"),
                     F.row_number().over(w).cast("bigint").alias("rn"))
             .filter(F.col("rn") <= 3))


@query(
    "conditional_agg",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
               AS n_big,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(o_totalprice AS DECIMAL(18,4))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               AS open_total,
           round(avg(CASE WHEN o_totalprice > 200000 THEN 1.0
                          ELSE 0.0 END), 6) AS big_ratio
    FROM orders GROUP BY o_orderpriority
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style conditional aggregation: filtered counts,
    CASE-gated sums, and ratios in one pass."""
    o = load(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 200000
    return (o.groupBy(F.col("o_orderpriority").alias("priority"))
             .agg(F.count(F.when(big, 1)).alias("n_big"),
                  F.count(F.when(F.col("o_orderstatus") == "F", 1))
                   .alias("n_finished"),
                  F.sum(F.when(F.col("o_orderstatus") == "O",
                               F.col("o_totalprice"))
                         .otherwise(F.lit(0.0)).cast("decimal(18,4)"))
                   .cast("double").alias("open_total"),
                  F.round(F.avg(F.when(big, 1.0).otherwise(0.0)), 6)
                   .alias("big_ratio")))


@query(
    "string_distance",
    oracle="""
    SELECT p1.p_partkey AS pkey_1, p2.p_partkey AS pkey_2,
           p1.p_name AS name_1, p2.p_name AS name_2,
           CAST(levenshtein(p1.p_name, p2.p_name) AS BIGINT) AS dist
    FROM part p1 JOIN part p2
      ON p1.p_brand = p2.p_brand AND p1.p_partkey < p2.p_partkey
    WHERE levenshtein(p1.p_name, p2.p_name) <= 3
    """,
)
def string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching: Levenshtein pairs within a blocking key (same
    brand) — the record-linkage primitive.

    Round 4: the blocked cross-product (quadratic in block size — the
    engine's last O(block^2) plan, 10 s at sf0.1) is replaced by a
    two-level decomposition that never builds a cross product:

    1. Edit distance depends only on the name VALUES, so the DP runs
       over DISTINCT names — vocabulary-sized, not corpus-sized.
    2. Candidate name pairs come from a PassJoin-style pieces
       equi-join (Li, Deng, Feng, "PassJoin: a partition-based method
       for similarity joins", VLDB 2012): each name splits into
       tau+1 = 4 even pieces; if edit(a, b) <= 3 then at least one
       piece of the shorter survives all 3 edits and occurs verbatim
       in the longer, start-shifted by at most tau. The shorter side
       indexes its pieces, the longer side enumerates the O(tau^2)
       substrings that could match one, and candidates fall out of an
       equi-join on (shorter-length, piece-index, piece-text) — so
       the name-pair step stays subquadratic even at web-corpus name
       vocabularies. Survivors are verified with the thresholded
       banded-DP ``levenshtein(a, b, 3)``.
    3. The (name_a, name_b, dist) map — vocabulary^2-bounded but
       verified-tiny — is broadcast and expanded back to part pairs
       with plain equi-joins on name and (brand, name). The output
       fan-out is the result set itself; nothing intermediate is
       bigger than input + output.

    Same result set as the oracle's unthresholded self-join form.
    """
    TAU = 3
    NP = TAU + 1
    p = load(spark, sf_dir, "part")
    # r14 census pin: vocabulary-sized, consumed by pieces, probes AND
    # the identity arm of dmap under different projections (3 part
    # scans in the before-plan)
    names = pin(p.select("p_name").distinct()
                 .select(F.col("p_name").alias("_n"),
                         F.length("p_name").alias("_l")), eager=False)

    # even partition: piece i of an l-char string starts (1-based) at
    # 1 + i*(l div NP) + min(i, l mod NP), length (l div NP) + [i < l mod NP]
    pieces = names.select(
        F.col("_n").alias("_ns"), F.col("_l").alias("_ls"),
        F.explode(F.expr(f"""
            transform(sequence(0, {TAU}), i -> struct(
                i AS i,
                substring(_n,
                          1 + i * (_l div {NP}) + least(i, _l % {NP}),
                          (_l div {NP}) + if(i < _l % {NP}, 1, 0)) AS txt))
        """)).alias("_p"),
    ).select("_ns", "_ls", F.col("_p.i").alias("_i"),
             F.col("_p.txt").alias("_t"))

    # probe: for each possible shorter-length l in [_l-tau, _l], piece
    # index i, and start q in the +-tau shift window (clamped to valid
    # substring positions — a genuine occurrence is always valid, so
    # clamping never loses a candidate), the substring of this longer
    # string that could equal piece i of an l-char partner
    probes = names.select(
        F.col("_n").alias("_nr"),
        F.explode(F.expr(f"""
            flatten(transform(sequence(greatest(1, _l - {TAU}), _l), l ->
              flatten(transform(sequence(0, {TAU}), i ->
                transform(
                  sequence(
                    greatest(1, 1 + i * (l div {NP}) + least(i, l % {NP})
                             - {TAU}),
                    least(_l - ((l div {NP}) + if(i < l % {NP}, 1, 0)) + 1,
                          1 + i * (l div {NP}) + least(i, l % {NP})
                          + {TAU})),
                  q -> struct(l AS l, i AS i,
                              substring(_n, q,
                                        (l div {NP})
                                        + if(i < l % {NP}, 1, 0)) AS txt))))))
        """)).alias("_p"),
    ).select("_nr", F.col("_p.l").alias("_pl"),
             F.col("_p.i").alias("_pi"), F.col("_p.txt").alias("_pt"))

    cand = (pieces.join(probes, (F.col("_ls") == F.col("_pl"))
                        & (F.col("_i") == F.col("_pi"))
                        & (F.col("_t") == F.col("_pt"))
                        & (F.col("_ns") != F.col("_nr")))
            .select(F.least("_ns", "_nr").alias("_na"),
                    F.greatest("_ns", "_nr").alias("_nb"))
            .distinct())
    d = F.levenshtein("_na", "_nb", TAU)
    # r14 census pin: verified is result-sized, but its subtree (the
    # PassJoin piece/probe explode join + banded DP) is the whole
    # matching cost and the dmap union consumes it TWICE
    verified = pin(cand.select("_na", "_nb", d.alias("_d"))
                   .filter(F.col("_d") >= 0), eager=False)
    # directed map: both orientations plus exact-name self pairs
    dmap = (verified
            .union(verified.select(F.col("_nb"), F.col("_na"), "_d"))
            .union(names.select(F.col("_n").alias("_na"),
                                F.col("_n").alias("_nb"),
                                F.lit(0).alias("_d"))))

    p1 = p.select(F.col("p_partkey").alias("pkey_1"),
                  F.col("p_name").alias("name_1"),
                  F.col("p_brand").alias("_b1"))
    p2 = p.select(F.col("p_partkey").alias("pkey_2"),
                  F.col("p_name").alias("name_2"),
                  F.col("p_brand").alias("_b2"))
    return (p1.join(F.broadcast(dmap), F.col("name_1") == F.col("_na"))
              .join(p2, (F.col("_b1") == F.col("_b2"))
                    & (F.col("name_2") == F.col("_nb"))
                    & (F.col("pkey_1") < F.col("pkey_2")))
              .select("pkey_1", "pkey_2", "name_1", "name_2",
                      F.col("_d").cast("bigint").alias("dist")))


_PROFILE_COL = """
    SELECT '{c}' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_str,
           CAST(MAX({c}) AS VARCHAR) AS max_str,
           {mean} AS mean
    FROM orders
"""


@query(
    "profile_columns",
    oracle=" UNION ALL ".join(
        _PROFILE_COL.format(
            c=c,
            mean=(f"round(avg(CAST({c} AS DOUBLE)), 6)" if numeric
                  else "CAST(NULL AS DOUBLE)"))
        for c, numeric in [
            ("o_orderkey", True), ("o_custkey", True),
            ("o_orderstatus", False), ("o_totalprice", True),
            ("o_orderdate", False), ("o_orderpriority", False)]),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column profile (count/nulls/distinct/min/max/
    mean) — the data-quality surface of an ETL engine
    (operators/profile.py; exact distinct here for the oracle, HLL is
    the default scale path)."""
    from ..operators.profile import profile_table
    return profile_table(load(spark, sf_dir, "orders"),
                         approx_distinct=False)


@query(
    "merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 1000000 + c_custkey, c_name, c_nationkey, c_acctbal,
             'NEWSEG' AS c_mktsegment
      FROM customer WHERE c_custkey < 5
    )
    SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name
                ELSE t.c_name END AS c_name,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey
                ELSE t.c_nationkey END AS c_nationkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                ELSE t.c_mktsegment END AS c_mktsegment
    FROM customer t FULL OUTER JOIN updates u
      ON t.c_custkey = u.c_custkey
    """,
)
def merge_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics (matched -> update, unmatched -> insert)
    as a full-outer-join plan (operators/merge.py): every 10th
    customer gets +1000 balance, five brand-new keys insert."""
    from ..operators.merge import merge_upsert
    c = load(spark, sf_dir, "customer")
    updated = (c.filter(F.col("c_custkey") % 10 == 0)
                .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0))
    inserted = (c.filter(F.col("c_custkey") < 5)
                 .withColumn("c_custkey", F.col("c_custkey") + 1000000)
                 .withColumn("c_mktsegment", F.lit("NEWSEG")))
    return merge_upsert(c, updated.unionByName(inserted), "c_custkey")


@query(
    "case_expr",
    oracle="""
    SELECT o_orderkey AS okey,
           CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                WHEN o_totalprice < 300000 THEN 'large'
                ELSE 'jumbo' END AS size_band,
           CASE o_orderstatus WHEN 'O' THEN 'open'
                              WHEN 'F' THEN 'finished'
                              ELSE 'other' END AS status_name
    FROM orders
    """,
)
def case_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.when(tp < 50000, "small").when(tp < 150000, "medium")
         .when(tp < 300000, "large").otherwise("jumbo").alias("size_band"),
        F.when(F.col("o_orderstatus") == "O", "open")
         .when(F.col("o_orderstatus") == "F", "finished")
         .otherwise("other").alias("status_name"))


@query(
    "cast_funcs",
    oracle="""
    SELECT o_orderkey AS okey,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_back,
           CAST(o_custkey AS DOUBLE) AS ckey_dbl,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_orderstatus = 'O' AS INTEGER) AS is_open_int
    FROM orders
    """,
)
def cast_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type casts restricted to the subset with identical
    semantics in both engines (double->int differs: Spark truncates,
    DuckDB rounds — excluded by design, use floor/round explicitly)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_back"),
        F.col("o_custkey").cast("double").alias("ckey_dbl"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        (F.col("o_orderstatus") == "O").cast("int").alias("is_open_int"))
