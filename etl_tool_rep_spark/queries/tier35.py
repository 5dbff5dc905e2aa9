"""Tier-35 queries: feature selection, changepoint detection, and
behavioral entropy — three quick-but-real operators closing round 6.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup). `chi2_feature_select` is
the text-classification feature selector (per-class token chi2 over
the 2x2 document contingency — what you run before training the
`naive_bayes_score` model to prune the vocabulary);
`changepoint_detect` is single-split binary segmentation of each
daily revenue series (the first step of every changepoint stack);
`session_entropy` scores each user's event-type mix (low entropy =
bots/single-purpose accounts, the classic behavioral filter).

Exactness: document counts and prefix sums are BIGINTs; chi2 and
SSE-gain are single identically-written double expressions over
integer carriers quantized once; entropy uses the per-term 1e-6
integer log grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import pin
from .registry import query
from .tier28 import _LNQ


# ---------------------------------------------------------------------------
# per-class chi-square feature selection over tokens
# ---------------------------------------------------------------------------

@query(
    "chi2_feature_select",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, lang, UNNEST(list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> x <> '')) AS w
      FROM documents),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
           FROM dt),
    cls AS (
      SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nc
      FROM dt GROUP BY 1),
    tok AS (
      SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM dt GROUP BY 1),
    hit AS (
      SELECT lang, w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS a
      FROM dt GROUP BY 1, 2),
    cont AS (
      SELECT h.lang, h.w, h.a,
             t.df - h.a AS b,
             c.nc - h.a AS cc,
             nd.n - t.df - (c.nc - h.a) AS d,
             nd.n AS n
      FROM hit h
      JOIN tok t ON t.w = h.w
      JOIN cls c ON c.lang = h.lang
      CROSS JOIN nd
      WHERE t.df >= 20),
    scored AS (
      SELECT lang, w, a, b, cc AS c, d,
             CAST(FLOOR(CAST(n AS DOUBLE)
                   * CAST(a * d - b * cc AS DOUBLE)
                   * CAST(a * d - b * cc AS DOUBLE)
                   / (CAST(a + b AS DOUBLE) * (cc + d)
                      * (a + cc) * (b + d)) * 1000000.0 + 0.5)
                  AS BIGINT) AS chi2_q
      FROM cont
      WHERE (a + b) > 0 AND (cc + d) > 0
        AND (a + cc) > 0 AND (b + d) > 0),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY chi2_q DESC, w) AS rk
      FROM scored)
    SELECT lang, rk, w AS token, a AS in_class_df,
           CAST(CAST(chi2_q AS DOUBLE) / 1000000.0 AS DOUBLE)
               AS chi2
    FROM ranked WHERE rk <= 10
    """,
)
def chi2_feature_select(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Per-language chi-square feature selection: for every token
    seen in >= 20 documents, the chi2 of the 2x2 document
    contingency (contains-token x is-class), ranked to the top 10
    tokens per language — the standard vocabulary pruner run before
    training an NB/linear text classifier (`naive_bayes_score`
    upstream). Counts are exact integer document frequencies; ad-bc
    stays in BIGINT (|ad-bc| <= N^2/4 < 2^62 at any tested scale);
    the statistic is one identically-written double expression
    quantized to a 1e-6 grid, ranked with deterministic token
    tie-breaks.

    Scale: one distinct (doc, token, class) projection and three
    map-side-combinable censuses (class sizes, token DFs, class x
    token hits); the contingency join is hit-table-sized with tiny
    broadcast dimensions. The df >= 20 cut bounds the ranked set to
    the vocabulary head.
    """
    docs = load(spark, sf_dir, "documents")
    dt = (docs.select(
        "doc_id", "lang",
        F.explode(F.expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
        .alias("w"))
        .distinct())
    # r13: pin measured SLOWER here (1.58 -> 2.43 s interleaved):
    # all four censuses aggregate directly on dt's distinct exchange,
    # which AQE's runtime stage cache already reuses — the pin only
    # added a materialization. Left unpinned on measurement.
    nd = dt.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    cls = dt.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("nc"))
    tok = dt.groupBy("w").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df"))
    hit = dt.groupBy("lang", "w").agg(
        F.countDistinct("doc_id").cast("bigint").alias("a"))
    cont = (hit.join(tok.filter(F.col("df") >= 20), "w")
            .join(F.broadcast(cls), "lang")
            .crossJoin(F.broadcast(nd))
            .select("lang", "w", "a",
                    (F.col("df") - F.col("a")).alias("b"),
                    (F.col("nc") - F.col("a")).alias("cc"),
                    (F.col("n") - F.col("df")
                     - (F.col("nc") - F.col("a"))).alias("d"),
                    "n"))
    scored = (cont.filter("(a + b) > 0 AND (cc + d) > 0"
                          " AND (a + cc) > 0 AND (b + d) > 0")
              .withColumn("chi2_q", F.expr(
                  "CAST(FLOOR(CAST(n AS DOUBLE)"
                  " * CAST(a * d - b * cc AS DOUBLE)"
                  " * CAST(a * d - b * cc AS DOUBLE)"
                  " / (CAST(a + b AS DOUBLE) * (cc + d)"
                  " * (a + cc) * (b + d)) * 1000000.0 + 0.5)"
                  " AS BIGINT)")))
    ranked = scored.withColumn("rk", F.row_number().over(
        Window.partitionBy("lang")
        .orderBy(F.desc("chi2_q"), F.asc("w"))))
    return (ranked.filter(F.col("rk") <= 10)
            .select("lang", "rk", F.col("w").alias("token"),
                    F.col("a").alias("in_class_df"),
                    (F.col("chi2_q").cast("double") / 1000000.0)
                    .alias("chi2")))


# ---------------------------------------------------------------------------
# single-split binary segmentation changepoint
# ---------------------------------------------------------------------------

@query(
    "changepoint_detect",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    seq AS (
      SELECT prio, d, cents,
             ROW_NUMBER() OVER (PARTITION BY prio ORDER BY d)
                 AS i,
             CAST(COUNT(*) OVER (PARTITION BY prio) AS BIGINT)
                 AS n,
             CAST(SUM(cents) OVER (PARTITION BY prio ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS ps,
             CAST(SUM(cents) OVER (PARTITION BY prio)
                 AS BIGINT) AS st
      FROM daily),
    gains AS (
      -- variance-reduction gain of splitting after row i:
      -- ps^2/i + (st-ps)^2/(n-i) - st^2/n  (sum-of-squares identity)
      SELECT prio, d, i, n,
             CAST(FLOOR((
               CAST(ps AS DOUBLE) * ps / i
               + CAST(st - ps AS DOUBLE) * (st - ps) / (n - i)
               - CAST(st AS DOUBLE) * st / n
             ) / 10000.0 + 0.5) AS BIGINT) AS gain_q,
             ps, st
      FROM seq WHERE i < n),
    mx AS (
      SELECT prio, MAX(gain_q) AS gmax FROM gains GROUP BY 1),
    best AS (
      SELECT g.prio, MIN(g.d) AS split_day,
             MAX(g.gain_q) AS gain_q
      FROM gains g JOIN mx ON mx.prio = g.prio
                          AND g.gain_q = mx.gmax
      GROUP BY g.prio),
    detail AS (
      SELECT b.prio, b.split_day, b.gain_q, g.i, g.n, g.ps, g.st
      FROM best b JOIN gains g ON g.prio = b.prio
                              AND g.d = b.split_day)
    SELECT prio, split_day, n AS n_days,
           CAST(FLOOR(CAST(ps AS DOUBLE) / i + 0.5) AS BIGINT)
               AS mean_before_cents,
           CAST(FLOOR(CAST(st - ps AS DOUBLE) / (n - i) + 0.5)
               AS BIGINT) AS mean_after_cents,
           CAST(CAST(gain_q AS DOUBLE) * 10000.0 / 1.0 AS DOUBLE)
               AS gain
    FROM detail
    """,
)
def changepoint_detect(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    """Single-split binary segmentation of each priority's daily
    revenue series: the split day maximizing the variance-reduction
    gain ps^2/i + (st-ps)^2/(n-i) - st^2/n (the sum-of-squares
    identity, so only prefix sums are needed — no per-split rescan),
    with the segment means on each side. The first step of every
    changepoint stack (PELT/BinSeg recurse on the two halves with
    exactly this primitive). Prefix sums are exact BIGINTs; the gain
    is one identically-written double expression quantized onto a
    1e4-cents^2 grid, argmax tie-broken to the earliest day.

    Scale: one daily pre-aggregate, two windows (prefix sum, total)
    per group, one row per candidate split — linear in series
    length, parallel across groups; recursion for k splits reruns
    the same plan on subranges.
    """
    od = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = (od.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
         .alias("d"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                   .cast("bigint")).cast("bigint").alias("cents")))
    wd = Window.partitionBy("prio").orderBy("d")
    wp = Window.partitionBy("prio")
    seq = (daily
           .withColumn("i", F.row_number().over(wd))
           .withColumn("n", F.count(F.lit(1)).over(wp)
                       .cast("bigint"))
           .withColumn("ps", F.sum("cents").over(
               wd.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)).cast("bigint"))
           .withColumn("st", F.sum("cents").over(wp)
                       .cast("bigint")))
    # r14 census pin: |prio| x |days| rows, but the daily census +
    # three windows above were re-planned by THREE consumers (mx,
    # best, detail) — the stump_cv pattern
    gains = pin(seq.filter(F.col("i") < F.col("n"))
                .select("prio", "d", "i", "n", "ps", "st",
                        F.expr("CAST(FLOOR(("
                               " CAST(ps AS DOUBLE) * ps / i"
                               " + CAST(st - ps AS DOUBLE) * (st - ps)"
                               "   / (n - i)"
                               " - CAST(st AS DOUBLE) * st / n"
                               ") / 10000.0 + 0.5) AS BIGINT)")
                        .alias("gain_q")), eager=False)
    mx = (gains.groupBy("prio").agg(F.max("gain_q").alias("gmax"))
          .withColumnRenamed("prio", "mprio"))
    best = (gains.join(F.broadcast(mx),
                       (F.col("prio") == F.col("mprio"))
                       & (F.col("gain_q") == F.col("gmax")))
            .groupBy("prio")
            .agg(F.min("d").alias("split_day"),
                 F.max("gain_q").alias("bgain")))
    detail = (best.join(
        gains.select(F.col("prio").alias("gprio"),
                     F.col("d").alias("gd"),
                     "i", "n", "ps", "st"),
        (F.col("gprio") == F.col("prio"))
        & (F.col("gd") == F.col("split_day"))))
    return detail.select(
        "prio", "split_day", F.col("n").alias("n_days"),
        F.expr("CAST(FLOOR(CAST(ps AS DOUBLE) / i + 0.5) AS BIGINT)")
        .alias("mean_before_cents"),
        F.expr("CAST(FLOOR(CAST(st - ps AS DOUBLE) / (n - i) + 0.5)"
               " AS BIGINT)").alias("mean_after_cents"),
        F.expr("CAST(CAST(bgain AS DOUBLE) * 10000.0 / 1.0"
               " AS DOUBLE)").alias("gain"))


# ---------------------------------------------------------------------------
# per-user event-type entropy (behavioral mix score)
# ---------------------------------------------------------------------------

@query(
    "session_entropy",
    oracle=f"""
    WITH per AS (
      SELECT user_id, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM per GROUP BY 1)
    SELECT t.user_id, t.n AS n_events, t.n_types,
           CAST(FLOOR(CAST(SUM(p.c * ({_LNQ.format(v='t.n')}
                 - {_LNQ.format(v='p.c')})) AS DOUBLE)
                 / (CAST(t.n AS DOUBLE) * 1000000.0) * 1000000.0
                 + 0.5) / 1000000.0 AS DOUBLE) AS entropy
    FROM per p JOIN tot t ON t.user_id = p.user_id
    GROUP BY t.user_id, t.n, t.n_types
    """,
)
def session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each user's event-type mix — the
    behavioral-diversity score: near-zero entropy flags bots and
    single-purpose accounts, maximal entropy (ln of the type count)
    flags uniform synthetic traffic; both tails feed the curation
    filters (`filter_reasons`). Per-term integer log grid (c * (lnq n
    - lnq c)), one quantized division by n at the end.

    Scale: one (user, type) census with map-side combine, one
    user-level rollup, one join back — all shuffles on user_id, the
    natural key. |types| is a constant, so state per user is bounded.
    """
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = per.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"))
    j = per.join(tot, "user_id")
    return (j.groupBy("user_id", "n", "n_types")
            .agg(F.expr(
                f"CAST(FLOOR(CAST(SUM(c * ({_LNQ.format(v='n')}"
                f" - {_LNQ.format(v='c')})) AS DOUBLE)"
                f" / (CAST(n AS DOUBLE) * 1000000.0) * 1000000.0"
                f" + 0.5) AS DOUBLE) / 1000000.0").alias("entropy"))
            .select("user_id", F.col("n").alias("n_events"),
                    "n_types", "entropy"))
