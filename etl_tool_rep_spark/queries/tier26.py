"""Tier-26 queries: set-similarity joins with prefix filtering, sorted-
neighborhood record linkage, order-statistic windows, series
autocorrelation, ranked-retrieval PR curves, and two-sample schema
drift.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the
training-data-pipeline and analytics surface per the BASELINE.json
capability mandate. The tier's theme is *classic large-scale data-
integration algorithms re-expressed declaratively*: PPJoin-style
prefix filtering and sorted-neighborhood blocking are the two
canonical ways to avoid O(n^2) pair enumeration in entity resolution,
and both reduce to ordinary joins/windows Catalyst can plan.

Float parity follows the house rules (see queries/tier19.py and the
cross-engine notes): ratios of exact integers are quantized with the
FLOOR(x * 1e6 + 0.5) / 1e6 idiom written identically in both engines;
sums that could overflow BIGINT in Spark are per-term quantized to
integers and summed as DECIMAL(38,0) (DuckDB sums BIGINT into
HUGEINT, which is exact the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import pin
from .registry import query


# ---------------------------------------------------------------------------
# PPJoin-style prefix-filtered set-similarity self-join
# ---------------------------------------------------------------------------

# distinct 3-word shingles `sh`, set sizes `sz`, global shingle
# frequencies `freq`, and each doc's shingles rarest-first (`ord`)
_ORD_CTES = """words AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS ws
      FROM documents),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS t
      FROM words, unnest(range(1, len(ws) - 1)) AS r(i)
      WHERE len(ws) >= 3),
    sz AS MATERIALIZED (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM sh GROUP BY 1),
    freq AS MATERIALIZED (
             SELECT t, CAST(COUNT(*) AS BIGINT) AS f
             FROM sh GROUP BY 1),
    ord AS (
      SELECT sh.doc_id, sh.t,
             ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                                ORDER BY freq.f, sh.t) AS rk,
             sz.n
      FROM sh JOIN freq USING (t) JOIN sz USING (doc_id))"""


@query(
    "prefix_filter_jaccard",
    oracle=f"""
    WITH {_ORD_CTES},
    pref AS MATERIALIZED (
      SELECT doc_id, t FROM ord WHERE rk <= n // 2 + 1),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM pref a JOIN pref b
        ON a.t = b.t AND a.doc_id < b.doc_id),
    inter AS MATERIALIZED (
      -- token-wise co-pair stream probed into the candidate hash
      -- (the blocking_recall sf1 lesson: the cand x sh x sh per-pair
      -- expansion materializes ~2B rows and spills; this streams
      -- sum-of-C(df,2) rows instead)
      SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS i
      FROM sh ta
      JOIN sh tb ON tb.t = ta.t AND ta.doc_id < tb.doc_id
      JOIN cand c ON c.a_id = ta.doc_id AND c.b_id = tb.doc_id
      GROUP BY 1, 2)
    SELECT inter.a_id, inter.b_id,
           inter.i AS inter_sh,
           sa.n + sb.n - inter.i AS union_sh,
           CAST(FLOOR(CAST(inter.i AS DOUBLE) * 1000000.0
                 / (sa.n + sb.n - inter.i) + 0.5) / 1000000.0
                AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = inter.a_id
    JOIN sz sb ON sb.doc_id = inter.b_id
    WHERE 3 * inter.i >= sa.n + sb.n
    """,
)
def prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-word-shingle Jaccard >= 0.5, found by
    PPJoin-style prefix filtering instead of an all-pairs join: order
    each document's shingles rarest-global-first, keep only the first
    floor(n/2)+1 of them (any pair at Jaccard >= 0.5 MUST share one of
    those — the pigeonhole prefix bound for t = 0.5), equi-join the
    prefixes for candidates, then verify with exact set intersection.
    The >= t test is done in integers (3*i >= na+nb  <=>  i/u >= 0.5),
    so the result is float-free until the final display ratio.

    Scale: the only joins are equi-joins on shingle strings — prefix
    tokens are globally-rare by construction, so candidate buckets
    stay small even when the corpus shares a vocabulary; there is no
    O(n^2) stage anywhere. At 100 TB this is the standard shape:
    shuffle by shingle, shuffle candidates by pair — both key-bounded.
    The verify step intersects per-doc sorted shingle arrays (one
    collect per side) rather than re-joining the token table, keeping
    the candidate-verify stage one broadcast-sized map per pair.
    """
    docs = load(spark, sf_dir, "documents")
    # hash-distribute the raw docs before the CPU-heavy shingle
    # explode: the corpus can arrive in few/large files (the fixture
    # scans as ONE partition), and shuffling raw text is cheap next
    # to the 3x-exploded shingle shuffles downstream
    words = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")
         .alias("ws")).repartition("doc_id")
    # materialized once (the oracle's `sh AS MATERIALIZED` twin):
    # four branches consume it (sz/freq/pref/sets), and leaving the
    # reuse to AQE's stage cache is scheduling-order-dependent —
    # concurrent sibling stages each recompute the explode+distinct
    sh = pin(words.select(
        "doc_id",
        F.explode(F.expr(
            "CASE WHEN size(ws) >= 3 THEN "
            " transform(sequence(1, size(ws) - 2), "
            "  i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1])) "
            "ELSE array() END")).alias("t")).distinct(), eager=False)
    sz = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    freq = sh.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("f"))
    orderw = Window.partitionBy("doc_id").orderBy("f", "t")
    pref = (sh.join(freq, "t").join(sz, "doc_id")
            .withColumn("rk", F.row_number().over(orderw))
            .filter(F.col("rk") <= F.floor(F.col("n") / 2) + 1)
            .select("doc_id", "t"))
    cand = (pref.alias("a")
            .join(pref.alias("b"),
                  (F.col("a.t") == F.col("b.t"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id"))
            .distinct())
    sets = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("t")).alias("ts"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    joined = (cand
              .join(sets.select(F.col("doc_id").alias("a_id"),
                                F.col("ts").alias("ta"),
                                F.col("n").alias("na")), "a_id")
              .join(sets.select(F.col("doc_id").alias("b_id"),
                                F.col("ts").alias("tb"),
                                F.col("n").alias("nb")), "b_id")
              .withColumn("i", F.size(F.array_intersect("ta", "tb"))
                          .cast("bigint")))
    return (joined
            .filter(3 * F.col("i") >= F.col("na") + F.col("nb"))
            .select(
                "a_id", "b_id",
                F.col("i").alias("inter_sh"),
                (F.col("na") + F.col("nb") - F.col("i"))
                .alias("union_sh"),
                F.expr("CAST(FLOOR(CAST(i AS DOUBLE) * 1000000.0"
                       " / (na + nb - i) + 0.5) AS DOUBLE)"
                       " / 1000000.0")
                .alias("jaccard")))


# ---------------------------------------------------------------------------
# sorted-neighborhood record linkage (blocking without equi-keys)
# ---------------------------------------------------------------------------

@query(
    "record_linkage_sorted",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
                    1, 60) AS head
      FROM documents),
    nbr AS (
      SELECT lang, doc_id AS a_id, head AS a_head, off,
             LEAD(doc_id, off) OVER w AS b_id,
             LEAD(head, off) OVER w AS b_head
      FROM d, unnest([1, 2, 3]) AS o(off)
      WINDOW w AS (PARTITION BY lang, off
                   ORDER BY n_chars, doc_id))
    SELECT lang, a_id, b_id,
           CAST(levenshtein(a_head, b_head) AS BIGINT) AS lev
    FROM nbr
    WHERE b_id IS NOT NULL AND levenshtein(a_head, b_head) <= 15
    """,
)
def record_linkage_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution: instead of blocking on
    an equality key (which misses near-misses) or comparing all pairs
    (quadratic), sort each language's documents by a proxy key
    (n_chars, doc_id) and score only each record against its next 3
    neighbors in sort order — the classic sorted-neighborhood method.
    Matches are pairs whose ascii-normalized 60-char heads are within
    Levenshtein distance 15 (integer DP, bit-identical across
    engines; the ascii strip keeps multi-byte text out of the edit
    distance, whose unicode segmentation differs per engine).

    Scale: cost is one range-sort per language plus 3 LEADs — strictly
    O(n log n), no pair blow-up regardless of block skew. On a
    cluster the sort is Spark's RangePartitioning; the window
    neighbors-by-LEAD trick means no self-join at all. Window size w
    trades recall for cost exactly like LSH band count.
    """
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", "n_chars",
        F.expr("substring(regexp_replace(lower(text), '[^a-z ]', ''),"
               " 1, 60)").alias("head"))
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    leads = d.select(
        "lang",
        F.col("doc_id").alias("a_id"),
        F.col("head").alias("a_head"),
        *[c for o in (1, 2, 3) for c in (
            F.lead("doc_id", o).over(w).alias(f"b_id{o}"),
            F.lead("head", o).over(w).alias(f"b_head{o}"))])
    nbr = leads.selectExpr(
        "lang", "a_id", "a_head",
        "stack(3, b_id1, b_head1, b_id2, b_head2, b_id3, b_head3)"
        " AS (b_id, b_head)")
    return (nbr.filter(F.col("b_id").isNotNull())
            .withColumn("lev",
                        F.levenshtein("a_head", "b_head").cast("bigint"))
            .filter(F.col("lev") <= 15)
            .select("lang", "a_id", "b_id", "lev"))


# ---------------------------------------------------------------------------
# exact trailing moving median (order statistics over a sliding frame)
# ---------------------------------------------------------------------------

@query(
    "moving_median",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2)
    SELECT prio, day, rev_cents,
           median(rev_cents) OVER (
             PARTITION BY prio ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7_cents
    FROM daily
    """,
)
def moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median of daily revenue over a trailing 7-observation
    window per order priority — the robust alternative to the moving
    average (one fat-finger day cannot drag it). Spark has no exact
    median window function, so the frame is materialized as a sorted
    7-element array (collect_list over the ROWS frame) and the median
    read positionally with the standard lower/upper-middle average —
    on integer cents both halves are exact doubles, matching DuckDB's
    quantile_cont interpolation bit-for-bit.

    Scale: the frame is a constant 7 elements, so the array trick
    costs O(w log w) per row with w = 7 — this is the right plan for
    ANY small-w order-statistic window at 100 TB (the alternative, a
    range self-join, shuffles w copies of the fact table). The daily
    pre-aggregation collapses the fact table before the window sees
    it; revenue is exact BIGINT cents per the house float rules.
    """
    od = load(spark, sf_dir, "orders")
    daily = (od.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                   .cast("bigint")).cast("bigint").alias("rev_cents")))
    frame = (Window.partitionBy("prio").orderBy("day")
             .rowsBetween(-6, 0))
    arr = F.array_sort(F.collect_list("rev_cents").over(frame))
    wsize = F.size(arr)
    lo = F.floor((wsize + 1) / 2).cast("int")
    hi = (F.floor(wsize / 2) + 1).cast("int")
    med = ((F.element_at(arr, lo) + F.element_at(arr, hi)) / 2.0)
    return daily.select(
        "prio", "day", "rev_cents", med.alias("med7_cents"))


# ---------------------------------------------------------------------------
# autocorrelation of the daily revenue series at lags 1..3
# ---------------------------------------------------------------------------

@query(
    "acf_lags",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                 / 100.0 AS rev
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(CAST(rev * 100.0 AS BIGINT)) AS sum_cents
      FROM daily GROUP BY 1),
    dev AS (
      SELECT d.prio, m.n_days,
             d.rev - m.sum_cents / (100.0 * m.n_days) AS dv,
             LAG(d.rev, 1) OVER w - m.sum_cents / (100.0 * m.n_days)
                 AS dv1,
             LAG(d.rev, 2) OVER w - m.sum_cents / (100.0 * m.n_days)
                 AS dv2,
             LAG(d.rev, 3) OVER w - m.sum_cents / (100.0 * m.n_days)
                 AS dv3
      FROM daily d JOIN m ON m.prio = d.prio
      WINDOW w AS (PARTITION BY d.prio ORDER BY d.day)),
    q AS (
      SELECT prio, n_days,
             SUM(CAST(FLOOR(dv * dv + 0.5) AS BIGINT)) AS den,
             SUM(CASE WHEN dv1 IS NOT NULL THEN
                 CAST(FLOOR(dv * dv1 + 0.5) AS BIGINT) END) AS num1,
             SUM(CASE WHEN dv2 IS NOT NULL THEN
                 CAST(FLOOR(dv * dv2 + 0.5) AS BIGINT) END) AS num2,
             SUM(CASE WHEN dv3 IS NOT NULL THEN
                 CAST(FLOOR(dv * dv3 + 0.5) AS BIGINT) END) AS num3
      FROM dev GROUP BY 1, 2)
    SELECT prio, lag, n_days,
           CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS acf
    FROM (
      SELECT prio, n_days, 1 AS lag, num1 AS num, den FROM q
      UNION ALL
      SELECT prio, n_days, 2, num2, den FROM q
      UNION ALL
      SELECT prio, n_days, 3, num3, den FROM q)
    """,
)
def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of each priority's daily-revenue series
    at lags 1–3: r_k = sum(dev_t * dev_{t-k}) / sum(dev_t^2) over the
    observed day sequence. Cross-engine float discipline: revenue is
    exact integer cents; the mean enters through ONE double division
    written identically in both engines; each deviation product is
    quantized to integer dollars-squared (FLOOR(x+0.5)) BEFORE
    summation so the sums are order-independent integers, then one
    final double ratio is 6-dp quantized.

    Scale: one scan, one daily pre-aggregation, one window per
    priority for the three lags, one final 5-row aggregate — the lag
    terms never materialize a self-join. The per-term quantization is
    the 100-TB trick: it converts an order-sensitive double SUM (which
    can differ between engines AND between Spark retries) into an
    exact integer SUM that any partitioning reproduces. Sums ride in
    DECIMAL(38,0) on the Spark side (BIGINT would overflow ~1e19 at
    sf100) and HUGEINT in DuckDB.
    """
    od = load(spark, sf_dir, "orders")
    daily = (od.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("day"))
        .agg((F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                    .cast("bigint")) / 100.0).alias("rev")))
    m = daily.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum((F.col("rev") * 100.0).cast("bigint")).alias("sum_cents"))
    w = Window.partitionBy("prio").orderBy("day")
    mean = F.col("sum_cents") / (100.0 * F.col("n_days"))
    dev = (daily.join(m, "prio")
           .select("prio", "n_days", "day",
                   (F.col("rev") - mean).alias("dv"),
                   (F.lag("rev", 1).over(w) - mean).alias("dv1"),
                   (F.lag("rev", 2).over(w) - mean).alias("dv2"),
                   (F.lag("rev", 3).over(w) - mean).alias("dv3")))

    def qterm(a, b):
        return F.when(
            F.col(b).isNotNull(),
            F.floor(F.col(a) * F.col(b) + 0.5).cast("decimal(38,0)"))

    q = dev.groupBy("prio", "n_days").agg(
        F.sum(F.floor(F.col("dv") * F.col("dv") + 0.5)
              .cast("decimal(38,0)")).alias("den"),
        F.sum(qterm("dv", "dv1")).alias("num1"),
        F.sum(qterm("dv", "dv2")).alias("num2"),
        F.sum(qterm("dv", "dv3")).alias("num3"))
    # r14: the 3-way union re-planned q's subtree (daily census +
    # stats join + lag window) once per lag — 6 orders scans in the
    # before-plan. Exploding a 3-element struct array over the 5-row
    # q frame emits the same rows (same values; order differs only in
    # row interleaving, which the hash gate is insensitive to) from
    # ONE plan.
    un = q.select(
        "prio", "n_days", "den",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"),
                     F.col(f"num{k}").alias("num"))
            for k in (1, 2, 3)])).alias("_t"))
    return un.select(
        "prio", F.col("_t.lag").alias("lag"), "n_days",
        F.expr("CAST(FLOOR(CAST(_t.num AS DOUBLE)"
               " / CAST(den AS DOUBLE)"
               " * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0")
        .alias("acf"))


# ---------------------------------------------------------------------------
# ranked-retrieval precision/recall at decile cutoffs (per fold)
# ---------------------------------------------------------------------------

@query(
    "pr_at_k",
    oracle="""
    WITH base AS (
      SELECT vec_id % 4 AS fold, vec_id,
             CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
      FROM embeddings),
    ranked AS (
      SELECT fold, pos,
             ROW_NUMBER() OVER w AS rn,
             SUM(pos) OVER (PARTITION BY fold ORDER BY score DESC,
                            vec_id ROWS UNBOUNDED PRECEDING) AS tp,
             COUNT(*) OVER (PARTITION BY fold) AS nf,
             SUM(pos) OVER (PARTITION BY fold) AS npos
      FROM base
      WINDOW w AS (PARTITION BY fold ORDER BY score DESC, vec_id)),
    at_k AS (
      SELECT fold, i.i AS decile, rn AS k, tp, npos
      FROM ranked, unnest([1,2,3,4,5,6,7,8,9]) AS i(i)
      WHERE rn = (nf * i.i) // 10)
    SELECT fold, CAST(decile AS INT) AS decile,
           CAST(k AS BIGINT) AS k, CAST(tp AS BIGINT) AS tp,
           CAST(FLOOR(CAST(tp AS DOUBLE) * 1000000.0 / k + 0.5)
               / 1000000.0 AS DOUBLE) AS precision_at_k,
           CASE WHEN npos = 0 THEN NULL ELSE
             CAST(FLOOR(CAST(tp AS DOUBLE) * 1000000.0 / npos + 0.5)
                 / 1000000.0 AS DOUBLE) END AS recall_at_k,
           CAST(FLOOR(CAST(2.0 * tp AS DOUBLE) * 1000000.0
               / (k + npos) + 0.5) / 1000000.0 AS DOUBLE) AS f1_at_k
    FROM at_k
    """,
)
def pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at the nine decile cutoffs of a ranked
    retrieval list, per fold — the threshold-sweep companion to
    `auc_metric` (same scorer: embedding[0] predicting label >= 5).
    F1 collapses to the integer identity 2*tp / (k + npos), so every
    metric is a single quantized ratio of exact counts.

    Scale: one sort per fold (RangePartitioning) with running-sum
    windows — identical cost shape to `auc_metric`; the decile rows
    are selected by an integer rank equation, not a percentile
    estimate, so no second pass over the data. The 9-way explode
    touches only rank metadata, not payloads.
    """
    e = load(spark, sf_dir, "embeddings")
    base = e.select(
        (F.col("vec_id") % 4).alias("fold"), "vec_id",
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("pos"))
    w = Window.partitionBy("fold").orderBy(F.desc("score"), "vec_id")
    ranked = base.select(
        "fold", "pos",
        F.row_number().over(w).alias("rn"),
        F.sum("pos").over(w.rowsBetween(Window.unboundedPreceding, 0))
         .alias("tp"),
        F.count(F.lit(1)).over(Window.partitionBy("fold")).alias("nf"),
        F.sum("pos").over(Window.partitionBy("fold")).alias("npos"))
    at_k = (ranked
            .withColumn("decile", F.explode(F.expr(
                "array(1,2,3,4,5,6,7,8,9)")))
            .filter(F.col("rn") == F.expr("(nf * decile) div 10")))
    return at_k.select(
        "fold",
        F.col("decile").cast("int").alias("decile"),
        F.col("rn").cast("bigint").alias("k"),
        F.col("tp").cast("bigint").alias("tp"),
        F.expr("CAST(FLOOR(CAST(tp AS DOUBLE) * 1000000.0 / rn"
               " + 0.5) AS DOUBLE) / 1000000.0")
        .alias("precision_at_k"),
        F.expr("CASE WHEN npos = 0 THEN NULL ELSE"
               " CAST(FLOOR(CAST(tp AS DOUBLE) * 1000000.0 / npos"
               " + 0.5) AS DOUBLE) / 1000000.0 END")
        .alias("recall_at_k"),
        F.expr("CAST(FLOOR(CAST(2.0 * tp AS DOUBLE) * 1000000.0"
               " / (rn + npos) + 0.5) AS DOUBLE) / 1000000.0")
        .alias("f1_at_k"))


# ---------------------------------------------------------------------------
# two-sample schema/distribution drift report
# ---------------------------------------------------------------------------

@query(
    "schema_drift_report",
    oracle="""
    WITH b AS (
      SELECT *,
             CASE WHEN date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) <
                  (SELECT (MIN(date_diff('day', DATE '1970-01-01',
                                CAST(o_orderdate AS DATE)))
                           + MAX(date_diff('day', DATE '1970-01-01',
                                CAST(o_orderdate AS DATE)))) // 2
                   FROM orders)
                  THEN 0 ELSE 1 END AS half
      FROM orders),
    vals AS (
      SELECT half, 'o_orderstatus' AS col, o_orderstatus AS val FROM b
      UNION ALL
      SELECT half, 'o_orderpriority', o_orderpriority FROM b
      UNION ALL
      SELECT half, 'o_totalprice_bucket',
             CAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT)
                  AS VARCHAR) FROM b
      UNION ALL
      SELECT half, 'o_custkey_mod97',
             CAST(o_custkey % 97 AS VARCHAR) FROM b),
    cnts AS (
      SELECT col, val,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_old,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_new
      FROM vals GROUP BY 1, 2),
    tot AS (
      SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new
      FROM b)
    SELECT col,
           tot.n_old, tot.n_new,
           CAST(SUM(CASE WHEN c_old > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS ndv_old,
           CAST(SUM(CASE WHEN c_new > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS ndv_new,
           CAST(CAST(SUM(CAST(FLOOR(ABS(
                 CAST(c_old AS DOUBLE) / tot.n_old
                 - CAST(c_new AS DOUBLE) / tot.n_new)
                 * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 2000000000.0 AS DOUBLE) AS tv_distance
    FROM cnts CROSS JOIN tot
    GROUP BY col, tot.n_old, tot.n_new
    """,
)
def schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample drift report over the orders table split at its date
    midpoint: per monitored column (two categoricals, one bucketed
    numeric, one hashed key), the value-count NDV per half plus the
    total-variation distance 0.5 * sum(|p_old - p_new|) between the
    halves' value distributions — the schema-monitoring primitive that
    catches a upstream enum change or key-population shift before it
    poisons a training run (complements `psi_drift`, which bins one
    numeric; this sweeps heterogeneous columns in one pass).

    Scale: ONE scan of the fact table fanned out via an in-row
    explode to (column, value) pairs, one count aggregation keyed by
    (col, val), one 4-row rollup. Per-term quantization (1e-9 grid)
    makes the TV sum an exact integer sum — order-independent, so
    Spark partitioning and DuckDB's serial sum agree exactly. The
    date midpoint is integer microseconds, one broadcast scalar.
    """
    od = load(spark, sf_dir, "orders")
    ed = F.datediff(F.col("o_orderdate").cast("date"),
                    F.lit("1970-01-01").cast("date"))
    mm = od.agg(
        F.floor((F.min(ed) + F.max(ed)) / 2)
        .cast("bigint").alias("pivot_day"))
    b = od.crossJoin(F.broadcast(mm)).withColumn(
        "half", F.when(ed < F.col("pivot_day"), 0).otherwise(1))
    pairs = b.select("half", F.explode(F.array(
        F.struct(F.lit("o_orderstatus").alias("col"),
                 F.col("o_orderstatus").alias("val")),
        F.struct(F.lit("o_orderpriority").alias("col"),
                 F.col("o_orderpriority").alias("val")),
        F.struct(F.lit("o_totalprice_bucket").alias("col"),
                 F.floor(F.col("o_totalprice") / 50000.0)
                 .cast("bigint").cast("string").alias("val")),
        F.struct(F.lit("o_custkey_mod97").alias("col"),
                 (F.col("o_custkey") % 97).cast("string")
                 .alias("val")))).alias("cv"))
    cnts = (pairs.select("half", "cv.col", "cv.val")
            .groupBy("col", "val")
            .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
                 .cast("bigint").alias("c_old"),
                 F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
                 .cast("bigint").alias("c_new")))
    tot = b.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_old"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_new"))
    joined = cnts.crossJoin(F.broadcast(tot))
    term = F.floor(
        F.abs(F.col("c_old").cast("double") / F.col("n_old")
              - F.col("c_new").cast("double") / F.col("n_new"))
        * 1000000000.0 + 0.5).cast("bigint")
    return (joined.groupBy("col", "n_old", "n_new")
            .agg(F.sum(F.when(F.col("c_old") > 0, 1).otherwise(0))
                 .cast("bigint").alias("ndv_old"),
                 F.sum(F.when(F.col("c_new") > 0, 1).otherwise(0))
                 .cast("bigint").alias("ndv_new"),
                 (F.sum(term).cast("double") / 2000000000.0)
                 .alias("tv_distance")))
