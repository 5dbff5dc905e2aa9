"""Tier-27 queries: ML data preparation, data-quality profiling,
privacy, and robust statistics.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the
training-data-pipeline surface. The tier's theme is *the feedback
loops around a training corpus*: leakage-free feature encoding
(out-of-fold target encoding), automatic data-quality discovery
(functional-dependency violation profiling), release governance
(t-closeness, completing the k-anonymity / l-diversity trio from
tier 15), robust trend estimation (Theil-Sen), corpus health
diagnostics (Zipf fit), and evaluating the dedup stack itself
(blocking recall of sorted-neighborhood candidates against the exact
prefix-filter truth).

Float parity follows the house rules (queries/tier19.py and the
cross-engine notes): ratios of exact integers are quantized with the
FLOOR(x * 1e6 + 0.5) / 1e6 idiom written identically in both
engines; logarithms are rounded onto an integer grid per term before
any sum (the unigram_logprob discipline) so accumulation order never
matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import pin
from .registry import query
from .tier26 import _ORD_CTES


# ---------------------------------------------------------------------------
# out-of-fold target encoding (leakage-free categorical feature)
# ---------------------------------------------------------------------------

@query(
    "target_encode_oof",
    oracle="""
    WITH cell AS (
      SELECT o_orderpriority AS prio,
             CAST(o_orderkey % 5 AS BIGINT) AS fold,
             CAST(COUNT(*) AS BIGINT) AS n_in_fold,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS s_cents
      FROM orders GROUP BY 1, 2),
    tot AS (
      SELECT prio, CAST(SUM(n_in_fold) AS BIGINT) AS n_tot,
             CAST(SUM(s_cents) AS BIGINT) AS s_tot
      FROM cell GROUP BY 1)
    SELECT c.prio, c.fold, c.n_in_fold,
           t.n_tot - c.n_in_fold AS n_oof,
           CAST(FLOOR(CAST(t.s_tot - c.s_cents AS DOUBLE)
                 / (100.0 * (t.n_tot - c.n_in_fold)) * 1000000.0
                 + 0.5) / 1000000.0 AS DOUBLE) AS te_oof
    FROM cell c JOIN tot t ON t.prio = c.prio
    """,
)
def target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of the order-priority categorical
    against total price: for each (category, fold) the encoded value
    is the mean label over every OTHER fold — the standard
    leakage-free construction (a row never sees its own fold's
    labels, so the encoding can be joined back for training without
    target leakage). Labels ride as exact integer cents; the OOF mean
    is computed from (total - fold) integer sums, one quantized
    division at the end.

    Scale: one map-side-combinable GROUP BY over (category, fold) —
    |cats| x |folds| cells regardless of table size — then a window
    rollup per category over that tiny cell table. The encode-join
    back to the fact table (not materialized here) is a broadcast.
    """
    od = load(spark, sf_dir, "orders")
    cell = (od.groupBy(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_orderkey") % 5).cast("bigint").alias("fold"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_in_fold"),
             F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                   .cast("bigint")).cast("bigint").alias("s_cents")))
    w = Window.partitionBy("prio")
    return (cell
            .withColumn("n_tot", F.sum("n_in_fold").over(w))
            .withColumn("s_tot", F.sum("s_cents").over(w))
            .select(
                "prio", "fold", "n_in_fold",
                (F.col("n_tot") - F.col("n_in_fold")).alias("n_oof"),
                F.expr("CAST(FLOOR(CAST(s_tot - s_cents AS DOUBLE)"
                       " / (100.0 * (n_tot - n_in_fold)) * 1000000.0"
                       " + 0.5) AS DOUBLE) / 1000000.0")
                .alias("te_oof")))


# ---------------------------------------------------------------------------
# functional-dependency violation profiling (data-quality discovery)
# ---------------------------------------------------------------------------

@query(
    "fd_violations",
    oracle="""
    WITH pairs AS (
      SELECT 'o_orderkey->o_orderstatus' AS fd,
             CAST(o_orderkey AS VARCHAR) AS k, o_orderstatus AS v
      FROM orders
      UNION ALL
      SELECT 'o_custkey->o_orderpriority',
             CAST(o_custkey AS VARCHAR), o_orderpriority
      FROM orders
      UNION ALL
      SELECT 'l_orderkey->l_shipdate',
             CAST(l_orderkey AS VARCHAR),
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(l_shipdate AS DATE)) AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_partkey->l_suppkey',
             CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR)
      FROM lineitem),
    grp AS (
      SELECT fd, k, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv
      FROM pairs GROUP BY 1, 2)
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_keys,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN ndv > 1 THEN n_rows ELSE 0 END)
                AS BIGINT) AS violating_rows,
           SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds,
           CAST(FLOOR(CAST(SUM(CASE WHEN ndv > 1 THEN n_rows
                                    ELSE 0 END) AS DOUBLE)
                 * 1000000.0 / SUM(n_rows) + 0.5) / 1000000.0
                AS DOUBLE) AS violation_share
    FROM grp GROUP BY fd
    """,
)
def fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violation profile over four candidate
    FDs (two true by construction, two false): per FD the number of
    determinant keys, keys whose dependent attribute takes more than
    one value, the row mass inside violating keys, and the verdict —
    the profiling primitive behind schema inference, key discovery,
    and "did upstream break the invariant" monitoring (TANE-style FD
    discovery reduces to exactly these per-key distinct counts).

    Scale: the candidate FDs fan out via UNION ALL into one
    (fd, key, value) stream — each branch scans its table once with
    column pruning down to two columns; the per-key distinct count is
    a two-level aggregate Catalyst plans with partial aggregation.
    Violation profiling at 100 TB is therefore |candidates| pruned
    scans, not |candidates| full-width passes.
    """
    od = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01").cast("date")
    pairs = (
        od.select(F.lit("o_orderkey->o_orderstatus").alias("fd"),
                  F.col("o_orderkey").cast("string").alias("k"),
                  F.col("o_orderstatus").alias("v"))
        .unionAll(od.select(
            F.lit("o_custkey->o_orderpriority").alias("fd"),
            F.col("o_custkey").cast("string").alias("k"),
            F.col("o_orderpriority").alias("v")))
        .unionAll(li.select(
            F.lit("l_orderkey->l_shipdate").alias("fd"),
            F.col("l_orderkey").cast("string").alias("k"),
            F.datediff(F.col("l_shipdate").cast("date"), epoch)
             .cast("string").alias("v")))
        .unionAll(li.select(
            F.lit("l_partkey->l_suppkey").alias("fd"),
            F.col("l_partkey").cast("string").alias("k"),
            F.col("l_suppkey").cast("string").alias("v"))))
    grp = (pairs.groupBy("fd", "k")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("v").cast("bigint").alias("ndv")))
    viol = F.when(F.col("ndv") > 1, 1).otherwise(0)
    return (grp.groupBy("fd")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                 F.sum(viol).cast("bigint").alias("violating_keys"),
                 F.sum("n_rows").cast("bigint").alias("n_rows"),
                 F.sum(F.when(F.col("ndv") > 1, F.col("n_rows"))
                       .otherwise(0)).cast("bigint")
                 .alias("violating_rows"))
            .select("fd", "n_keys", "violating_keys", "n_rows",
                    "violating_rows",
                    (F.col("violating_keys") == 0).alias("fd_holds"),
                    F.expr("CAST(FLOOR(CAST(violating_rows AS DOUBLE)"
                           " * 1000000.0 / n_rows + 0.5) AS DOUBLE)"
                           " / 1000000.0").alias("violation_share")))


# ---------------------------------------------------------------------------
# t-closeness census (completes the k-anonymity / l-diversity trio)
# ---------------------------------------------------------------------------

@query(
    "t_closeness_census",
    oracle="""
    WITH per AS (
      SELECT c_nationkey AS nation,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer GROUP BY 1, 2, 3),
    gseg AS (SELECT segment, CAST(SUM(cnt) AS BIGINT) AS g
             FROM per GROUP BY 1),
    gtot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM per),
    cls AS (SELECT nation, bal_band,
                   CAST(SUM(cnt) AS BIGINT) AS n_cls
            FROM per GROUP BY 1, 2),
    combo AS (
      SELECT c.nation, c.bal_band, c.n_cls, t.n, gseg.g,
             COALESCE(p.cnt, 0) AS cnt
      FROM cls c CROSS JOIN gseg CROSS JOIN gtot t
      LEFT JOIN per p ON p.nation = c.nation
                     AND p.bal_band = c.bal_band
                     AND p.segment = gseg.segment),
    q AS (
      SELECT nation, bal_band, n_cls,
             CAST(SUM(CAST(FLOOR(ABS(CAST(cnt AS DOUBLE) / n_cls
                   - CAST(g AS DOUBLE) / n) * 1000000000.0 + 0.5)
                   AS BIGINT)) AS BIGINT) AS tv_q
      FROM combo GROUP BY 1, 2, 3)
    SELECT nation, bal_band, n_cls AS n,
           CAST(CAST(tv_q AS DOUBLE) / 2000000000.0 AS DOUBLE)
               AS tv_dist,
           tv_q <= 400000000 AS t_close
    FROM q
    """,
)
def t_closeness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness census (Li, Li & Venkatasubramanian 2007) — the
    third leg of the release-governance trio with
    `k_anonymity_census` and `l_diversity_census`: a class can be
    k-anonymous AND l-diverse yet still leak if its sensitive-value
    distribution differs sharply from the global one. Per
    quasi-identifier class (nation, balance band): class size and the
    total-variation distance between the class's market-segment
    distribution and the table-wide distribution, with the t <= 0.2
    verdict decided on the quantized integer sum (exactly, not on a
    rounded double).

    Scale: the (QI, sensitive) census is the only corpus-sized
    aggregate; everything downstream joins censuses of |QI cells| and
    |sensitive values| rows. The class x segment completion (absent
    segments count as 0) is a broadcast cross of two tiny dimensions
    — never a fact-table op.
    """
    c = load(spark, sf_dir, "customer")
    per = (c.groupBy(F.col("c_nationkey").alias("nation"),
                     F.floor(F.col("c_acctbal") / 1000.0)
                      .cast("bigint").alias("bal_band"),
                     F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    glob = per.groupBy("segment").agg(
        F.sum("cnt").cast("bigint").alias("g"))
    gtot = per.agg(F.sum("cnt").cast("bigint").alias("n"))
    cls = per.groupBy("nation", "bal_band").agg(
        F.sum("cnt").cast("bigint").alias("n_cls"))
    combo = (cls.crossJoin(F.broadcast(glob))
             .crossJoin(F.broadcast(gtot))
             .join(per, ["nation", "bal_band", "segment"], "left")
             .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0))))
    term = F.floor(
        F.abs(F.col("cnt").cast("double") / F.col("n_cls")
              - F.col("g").cast("double") / F.col("n"))
        * 1000000000.0 + 0.5).cast("bigint")
    q = (combo.groupBy("nation", "bal_band", "n_cls")
         .agg(F.sum(term).cast("bigint").alias("tv_q")))
    return q.select(
        "nation", "bal_band", F.col("n_cls").alias("n"),
        (F.col("tv_q").cast("double") / 2000000000.0)
        .alias("tv_dist"),
        (F.col("tv_q") <= 400000000).alias("t_close"))


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------

@query(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    mx AS (SELECT MAX(d) AS dmax FROM daily),
    win AS (SELECT daily.* FROM daily, mx WHERE d > dmax - 90),
    sl AS (
      SELECT a.prio,
             CAST(FLOOR(CAST(b.cents - a.cents AS DOUBLE)
                   / (b.d - a.d) / 100.0 * 1000000.0 + 0.5)
                  AS BIGINT) AS slope_q
      FROM win a JOIN win b ON a.prio = b.prio AND b.d > a.d)
    SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(median(slope_q) AS DOUBLE) / 1000000.0 AS ts_slope
    FROM sl GROUP BY prio
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of each priority's daily revenue over
    the trailing 90 days: the median of all pairwise slopes
    (rev_j - rev_i) / (day_j - day_i) — up to ~29% corrupted days
    cannot move it, unlike the OLS slope `regression_agg` computes.
    Slopes are quantized to a 1e-6 dollars/day grid as integers
    before the median, and the median itself is taken positionally
    (sorted array, lower/upper-middle average), so both engines see
    the same multiset and the same answer.

    Scale: Theil-Sen is quadratic in SERIES LENGTH, not table size —
    the pair join runs on the daily pre-aggregate (<= 90 rows per
    group after the trailing-window cut), so the pair stage is
    dimension-bounded no matter how many fact rows feed the daily
    rollup. For multi-year series swap in the repeated-median
    variant (median per anchor, then median of medians) which this
    plan extends to directly.
    """
    od = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = (od.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
         .alias("d"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                   .cast("bigint")).cast("bigint").alias("cents")))
    mx = daily.agg(F.max("d").alias("dmax"))
    win = (daily.crossJoin(F.broadcast(mx))
           .filter(F.col("d") > F.col("dmax") - 90)
           .select("prio", "d", "cents"))
    a, b = win.alias("a"), win.alias("b")
    sl = (a.join(b, (F.col("a.prio") == F.col("b.prio"))
                 & (F.col("b.d") > F.col("a.d")))
          .select(F.col("a.prio").alias("prio"),
                  F.expr("CAST(FLOOR(CAST(b.cents - a.cents AS"
                         " DOUBLE) / (b.d - a.d) / 100.0"
                         " * 1000000.0 + 0.5) AS BIGINT)")
                  .alias("slope_q")))
    ws = Window.partitionBy("prio").orderBy("slope_q")
    ranked = (sl.withColumn("rn", F.row_number().over(ws))
              .withColumn("m", F.count(F.lit(1))
                          .over(Window.partitionBy("prio"))))
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("m") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("m") / 2) + 1))
    return (mid.groupBy("prio")
            .agg(F.max("m").cast("bigint").alias("n_pairs"),
                 (F.avg("slope_q") / 1000000.0).alias("ts_slope")))


# ---------------------------------------------------------------------------
# Zipf fit of the token-frequency curve (corpus health diagnostic)
# ---------------------------------------------------------------------------

@query(
    "zipf_fit",
    oracle=r"""
    WITH words AS (
      SELECT UNNEST(list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> x <> '')) AS wd
      FROM documents),
    freq AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM words GROUP BY 1),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, wd) AS r
      FROM freq),
    top AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 10000.0, 0)
                  AS BIGINT) AS xq,
             CAST(round(ln(CAST(cnt AS DOUBLE)) * 10000.0, 0)
                  AS BIGINT) AS yq
      FROM ranked WHERE r <= 200),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xq) AS BIGINT) AS sx,
             CAST(SUM(yq) AS BIGINT) AS sy,
             CAST(SUM(xq * yq) AS BIGINT) AS sxy,
             CAST(SUM(xq * xq) AS BIGINT) AS sxx
      FROM top)
    SELECT n AS n_ranks,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0
                 + 0.5) / 1000000.0 AS DOUBLE) AS zipf_slope,
           CAST(FLOOR((CAST(sy AS DOUBLE) / n
                 - CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(sx AS DOUBLE) / n) * 100.0 + 0.5) / 100.0
                AS DOUBLE) AS zipf_intercept
    FROM s
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token-frequency curve: OLS slope
    of ln(frequency) on ln(rank) over the top-200 tokens — a healthy
    natural-language corpus sits near slope -1; machine-generated or
    template-heavy text bends the curve, making this a one-number
    corpus-drift alarm (pairs with `vocab_growth` / Heaps' law).
    Each ln is rounded onto a 1e-4 integer grid per term (the
    unigram_logprob discipline) so all five regression sums are
    exact integers; products stay < 2^53 by construction, and the
    two final ratios are written token-identically in both engines.

    Scale: the token-frequency census is the only corpus-sized
    aggregate (map-side combinable); the rank window and the
    regression run on a 200-row table. At 100 TB the top-200 cut
    should use the heavy_hitters sketch first and this exact rank
    on the survivors — same downstream plan.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.expr(
        "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
        .alias("wd"))
    freq = words.groupBy("wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ranked = freq.withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("wd"))))
    top = ranked.filter(F.col("r") <= 200).select(
        F.round(F.log(F.col("r").cast("double")) * 10000.0, 0)
         .cast("bigint").alias("xq"),
        F.round(F.log(F.col("cnt").cast("double")) * 10000.0, 0)
         .cast("bigint").alias("yq"))
    s = top.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("sx"),
        F.sum("yq").cast("bigint").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("bigint").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("sxx"))
    return s.select(
        F.col("n").alias("n_ranks"),
        F.expr("CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)"
               " / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0"
               " + 0.5) AS DOUBLE) / 1000000.0").alias("zipf_slope"),
        F.expr("CAST(FLOOR((CAST(sy AS DOUBLE) / n"
               " - CAST(n * sxy - sx * sy AS DOUBLE)"
               " / CAST(n * sxx - sx * sx AS DOUBLE)"
               " * CAST(sx AS DOUBLE) / n) * 100.0 + 0.5)"
               " AS DOUBLE) / 100.0").alias("zipf_intercept"))


# ---------------------------------------------------------------------------
# blocking recall: sorted-neighborhood candidates vs exact truth
# ---------------------------------------------------------------------------

# Every heavy member is AS MATERIALIZED: DuckDB inlines plain CTEs,
# so `sh` (referenced 4x through the chain) and `truth` (referenced
# 2x by the consumer) re-evaluate combinatorially otherwise — the
# round-6 sf1 DNF (250 GB spill) was THIS, not the pair volume.
# cand0 additionally carries the PPJoin LENGTH filter (J >= 1/2 and
# i <= min(na, nb) imply max <= 2*min), which prunes size-incompatible
# pairs before the intersection join without changing the truth set.
_TRUTH_CTE = f"""
    {_ORD_CTES},
    pref AS MATERIALIZED (
      SELECT doc_id, t, n FROM ord WHERE rk <= n // 2 + 1),
    cand0 AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM pref a JOIN pref b
        ON a.t = b.t AND a.doc_id < b.doc_id
       AND GREATEST(a.n, b.n) <= 2 * LEAST(a.n, b.n)),
    inter AS MATERIALIZED (
      -- token-wise co-pair stream probed into the candidate hash:
      -- volume is sum over tokens of C(df,2) (113M at sf1), grouped
      -- into <= |cand0| cells. The per-pair expansion form
      -- (cand0 x sh x sh) materialized ~2B rows and spilled >60GB
      -- at sf1; this one streams.
      SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS i
      FROM sh ta
      JOIN sh tb ON tb.t = ta.t AND ta.doc_id < tb.doc_id
      JOIN cand0 c ON c.a_id = ta.doc_id AND c.b_id = tb.doc_id
      GROUP BY 1, 2),
    truth AS MATERIALIZED (
      SELECT inter.a_id AS a, inter.b_id AS b
      FROM inter
      JOIN sz sa ON sa.doc_id = inter.a_id
      JOIN sz sb ON sb.doc_id = inter.b_id
      WHERE 3 * inter.i >= sa.n + sb.n)
"""


@query(
    "blocking_recall",
    oracle=f"""
    WITH {_TRUTH_CTE},
    d AS (SELECT doc_id, lang, n_chars FROM documents),
    nbr AS (
      SELECT doc_id AS a_id,
             LEAD(doc_id, off) OVER w AS b_id
      FROM d, unnest([1, 2, 3]) AS o(off)
      WINDOW w AS (PARTITION BY lang, off
                   ORDER BY n_chars, doc_id)),
    sn AS MATERIALIZED (
      SELECT DISTINCT LEAST(a_id, b_id) AS a,
                      GREATEST(a_id, b_id) AS b
      FROM nbr WHERE b_id IS NOT NULL),
    m AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM sn) AS n_cand,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM truth JOIN sn USING (a, b)) AS n_hit)
    SELECT n_true, n_cand, n_hit,
           CASE WHEN n_true = 0 THEN NULL ELSE
             CAST(FLOOR(CAST(n_hit AS DOUBLE) * 1000000.0 / n_true
                   + 0.5) / 1000000.0 AS DOUBLE) END AS recall,
           CASE WHEN n_cand = 0 THEN NULL ELSE
             CAST(FLOOR(CAST(n_hit AS DOUBLE) * 1000000.0 / n_cand
                   + 0.5) / 1000000.0 AS DOUBLE) END AS precision
    FROM m
    """,
)
def blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation of the dedup stack's blocking stage against its own
    exact truth: candidate pairs from sorted-neighborhood blocking
    (per-language (n_chars, doc_id) sort, window 3 — the
    `record_linkage_sorted` generator without the verify filter)
    scored against the complete Jaccard >= 0.5 pair set that
    `prefix_filter_jaccard` computes exactly. One row: truth size,
    candidate size, hits, recall and precision — the number that
    decides whether a cheap O(n log n) blocking key is safe to run
    INSTEAD of the prefix-filter join at the next scale decade.

    Scale: both pair sets are the outputs of already-scale-shaped
    plans (window LEADs; globally-rare-prefix equi-join); the
    evaluation adds three COUNT aggregates and one pair equi-join,
    all on pair lists orders smaller than the corpus.
    """
    from .tier26 import prefix_filter_jaccard

    # materialized once (the oracle's `truth AS MATERIALIZED` twin):
    # n_true and n_hit both consume it, and each reference would
    # otherwise re-run the whole prefix-filter pipeline
    truth = pin(prefix_filter_jaccard(spark, sf_dir)
                .select(F.col("a_id").alias("a"),
                        F.col("b_id").alias("b")), eager=False)
    docs = load(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    leads = d.select(
        F.col("doc_id").alias("a_id"),
        *[F.lead("doc_id", o).over(w).alias(f"b_id{o}")
          for o in (1, 2, 3)])
    nbr = leads.selectExpr(
        "a_id", "stack(3, b_id1, b_id2, b_id3) AS b_id")
    sn = (nbr.filter(F.col("b_id").isNotNull())
          .select(F.least("a_id", "b_id").alias("a"),
                  F.greatest("a_id", "b_id").alias("b"))
          .distinct())
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_true"))
    n_cand = sn.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    n_hit = (truth.join(sn, ["a", "b"])
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
    m = (n_true.crossJoin(F.broadcast(n_cand))
         .crossJoin(F.broadcast(n_hit)))
    return m.select(
        "n_true", "n_cand", "n_hit",
        F.expr("CASE WHEN n_true = 0 THEN NULL ELSE"
               " CAST(FLOOR(CAST(n_hit AS DOUBLE) * 1000000.0"
               " / n_true + 0.5) AS DOUBLE) / 1000000.0 END")
        .alias("recall"),
        F.expr("CASE WHEN n_cand = 0 THEN NULL ELSE"
               " CAST(FLOOR(CAST(n_hit AS DOUBLE) * 1000000.0"
               " / n_cand + 0.5) AS DOUBLE) / 1000000.0 END")
        .alias("precision"))
