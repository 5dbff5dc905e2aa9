"""Tier-39 queries (round 7): causal inference, sequential testing,
and behavioral funnels.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup rules). The tier closes the
experimentation family opened by `abtest_ztest`/`cuped_adjustment`
and adds the ClickHouse-style ordered funnel:

* `diff_in_diff` — the 2x2 difference-in-differences estimator
  (treatment x period cell means, DiD from the four integer sums).
* `ips_estimator` — off-policy evaluation of a uniform target policy
  via inverse empirical propensities (the counterfactual "what would
  revenue be if actions were uniform" question, per segment).
* `sprt_sequential` — Wald's sequential probability-ratio test on
  daily conversion counts: integer-grid log-likelihood ratio
  cumulated per variant, first boundary-crossing day.
* `window_funnel_k` — ordered view->click->purchase funnel level per
  user within a 1-hour horizon (ClickHouse windowFunnel semantics),
  histogrammed.
* `tokenizer_fertility` — subword-fertility census per language
  (fixed-width chunk tokens per word) — the tokenizer-efficiency
  signal multilingual corpus mixes are balanced on.

Exactness: integer sums everywhere; logs quantized onto the 1e-6
grid per TERM before any cumulation (the `unigram_logprob`
discipline); per-action means quantized to 1e-6 BEFORE the
cross-action sum so no double accumulation order exists; final
ratios are single double divisions under the FLOOR(x*1eN + 0.5)
idiom written identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from .registry import query
from .tier38 import _EV_CENTS


@query(
    "diff_in_diff",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treat,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({_EV_CENTS}) AS BIGINT) AS s
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT
        MAX(CASE WHEN treat = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t1,
        MAX(CASE WHEN treat = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t0,
        MAX(CASE WHEN treat = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c1,
        MAX(CASE WHEN treat = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c0
      FROM cells
    )
    SELECT c.treat, c.post, c.n, c.s,
           CAST(FLOOR(CAST(c.s AS DOUBLE) / c.n * 1e6 + 0.5) AS BIGINT)
             AS mean_cents_e6,
           CAST(FLOOR(((m.t1 - m.t0) - (m.c1 - m.c0)) * 1e6 + 0.5)
                AS BIGINT) AS did_e6
    FROM cells c CROSS JOIN m
    """,
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 difference-in-differences: treatment (user parity) x
    period (before/after Jan 16) cell means of event cents, and the
    DiD estimate (T_post - T_pre) - (C_post - C_pre) attached to
    every cell row — the workhorse quasi-experimental estimator for
    launches without randomization.

    Exactness: four integer (n, sum) cells; each mean is one double
    division; the DiD is a fixed double expression over the four
    means — identical association in both engines.

    Scale: one map-side-combinable 4-cell aggregate over the event
    scan; the DiD attaches as a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    cells = (ev.groupBy(
        (F.col("user_id") % 2).cast("bigint").alias("treat"),
        F.when(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
               F.lit(1)).otherwise(F.lit(0)).alias("post"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum(F.expr(_EV_CENTS)).cast("bigint").alias("s")))

    def cell(t: int, p: int) -> F.Column:
        return F.max(F.when((F.col("treat") == t) & (F.col("post") == p),
                            F.col("s").cast("double") / F.col("n")))

    m = cells.agg(cell(1, 1).alias("t1"), cell(1, 0).alias("t0"),
                  cell(0, 1).alias("c1"), cell(0, 0).alias("c0"))
    return (cells.crossJoin(F.broadcast(m))
            .select("treat", "post", "n", "s",
                    F.floor(F.col("s").cast("double") / F.col("n")
                            * F.lit(1e6) + F.lit(0.5)).cast("bigint")
                    .alias("mean_cents_e6"),
                    F.floor(((F.col("t1") - F.col("t0"))
                             - (F.col("c1") - F.col("c0")))
                            * F.lit(1e6) + F.lit(0.5)).cast("bigint")
                    .alias("did_e6")))


@query(
    "ips_estimator",
    oracle=f"""
    WITH acts AS (
      SELECT CAST(user_id % 4 AS BIGINT) AS seg, event_type AS a,
             CAST(COUNT(*) AS BIGINT) AS n_sa,
             CAST(SUM({_EV_CENTS}) AS BIGINT) AS s_sa
      FROM events GROUP BY 1, 2
    ), qm AS (
      SELECT seg, a, n_sa, s_sa,
             CAST(FLOOR(CAST(s_sa AS DOUBLE) / n_sa * 1e6 + 0.5)
                  AS BIGINT) AS mean_e6
      FROM acts
    )
    SELECT seg,
           CAST(COUNT(*) AS BIGINT) AS n_actions,
           CAST(SUM(n_sa) AS BIGINT) AS n_logged,
           CAST(SUM(mean_e6) AS BIGINT) AS sum_action_means_e6,
           CAST(FLOOR(CAST(SUM(mean_e6) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS ips_uniform_e6
    FROM qm GROUP BY seg
    """,
)
def ips_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation via inverse propensity scoring: estimate
    the per-segment mean reward IF actions (event types) were chosen
    uniformly, from logs generated by the behavior policy. With
    empirical propensities p(a|s) = n_sa / n_s, the IPS estimate
    collapses algebraically to the average of per-action mean rewards
    — computed here with each action mean quantized to the 1e-6 grid
    BEFORE the cross-action sum, so the estimate is a BIGINT sum of
    BIGINTs and no double accumulation order exists.

    Scale: one (segment, action) aggregate — dimension-sized output
    regardless of log volume; this is how counterfactual dashboards
    stay one groupBy at 100 TB."""
    ev = load(spark, sf_dir, "events")
    acts = (ev.groupBy((F.col("user_id") % 4).cast("bigint").alias("seg"),
                       F.col("event_type").alias("a"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sa"),
                 F.sum(F.expr(_EV_CENTS)).cast("bigint").alias("s_sa")))
    qm = acts.withColumn(
        "mean_e6",
        F.floor(F.col("s_sa").cast("double") / F.col("n_sa")
                * F.lit(1e6) + F.lit(0.5)).cast("bigint"))
    return (qm.groupBy("seg")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_actions"),
                 F.sum("n_sa").cast("bigint").alias("n_logged"),
                 F.sum("mean_e6").cast("bigint")
                 .alias("sum_action_means_e6"))
            .withColumn(
                "ips_uniform_e6",
                F.floor(F.col("sum_action_means_e6").cast("double")
                        / F.col("n_actions") + F.lit(0.5))
                .cast("bigint")))


# SPRT for conversion rate p0=0.03 vs p1=0.05, alpha=beta=0.05:
# per-observation log-LR terms on the 1e-6 integer grid, computed
# from the SAME double literals in both engines.
# integer-ratio doubles: bare 0.05/0.03 would be DECIMAL division in
# DuckDB (different value than the double quotient) — cast first
_LN_A = ("CAST(FLOOR(LN(CAST(5 AS DOUBLE) / CAST(3 AS DOUBLE))"
         " * 1e6 + 0.5) AS BIGINT)")
_LN_B = ("CAST(FLOOR(LN(CAST(95 AS DOUBLE) / CAST(97 AS DOUBLE))"
         " * 1e6 + 0.5) AS BIGINT)")
_BOUND = "CAST(FLOOR(LN(CAST(19 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"


@query(
    "sprt_sequential",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), llr AS (
      SELECT variant, day, n, x,
             SUM(x * ({_LN_A}) + (n - x) * ({_LN_B}))
               OVER (PARTITION BY variant ORDER BY day) AS cum_e6
      FROM daily
    ), crossed AS (
      SELECT variant, MIN(day) AS first_cross_day
      FROM llr WHERE cum_e6 >= ({_BOUND}) OR cum_e6 <= -({_BOUND})
      GROUP BY variant
    )
    SELECT l.variant,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(l.n) AS BIGINT) AS n_obs,
           CAST(SUM(l.x) AS BIGINT) AS n_conv,
           MAX(l.cum_e6) AS max_llr_e6,
           MIN(l.cum_e6) AS min_llr_e6,
           c.first_cross_day,
           CASE WHEN MAX(l.cum_e6) >= ({_BOUND}) THEN 'accept_h1'
                WHEN MIN(l.cum_e6) <= -({_BOUND}) THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr l LEFT JOIN crossed c ON c.variant = l.variant
    GROUP BY l.variant, c.first_cross_day
    """,
)
def sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability-ratio test on daily conversion
    counts per variant (H0: p=0.03 vs H1: p=0.05, alpha=beta=0.05):
    the cumulative log-likelihood ratio walks day by day; the test
    stops the moment it leaves the (-ln 19, +ln 19) corridor — the
    always-valid alternative to fixed-horizon A/B tests.

    Exactness: the two per-observation log-LR terms quantize ONCE to
    the 1e-6 grid from identical double literals; the cumulative sum
    is then pure BIGINT (no float accumulation anywhere). The
    decision compares BIGINTs against the integer-grid boundary.

    Scale: per-variant daily rollup (map-side combinable), then a
    2-partition window over days — state is one running BIGINT per
    variant; this is the streaming-friendly shape (the same plan
    runs under a watermar.ked stream with the cumsum as stateful
    agg)."""
    ev = load(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.col("user_id") % 2).cast("bigint").alias("variant"),
        F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).cast("bigint").alias("x")))
    term = (F.col("x") * F.expr(_LN_A)
            + (F.col("n") - F.col("x")) * F.expr(_LN_B))
    w = (Window.partitionBy("variant").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    llr = daily.withColumn("cum_e6", F.sum(term).over(w))
    bound = F.expr(_BOUND)
    crossed = (llr.filter((F.col("cum_e6") >= bound)
                          | (F.col("cum_e6") <= -bound))
               .groupBy("variant")
               .agg(F.min("day").alias("first_cross_day")))
    agg = (llr.groupBy("variant")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                F.sum("n").cast("bigint").alias("n_obs"),
                F.sum("x").cast("bigint").alias("n_conv"),
                F.max("cum_e6").alias("max_llr_e6"),
                F.min("cum_e6").alias("min_llr_e6")))
    return (agg.join(crossed, "variant", "left")
            .select("variant", "n_days", "n_obs", "n_conv",
                    "max_llr_e6", "min_llr_e6", "first_cross_day",
                    F.when(F.col("max_llr_e6") >= bound,
                           F.lit("accept_h1"))
                    .when(F.col("min_llr_e6") <= -bound,
                          F.lit("accept_h0"))
                    .otherwise(F.lit("continue")).alias("decision")))


@query(
    "window_funnel_k",
    oracle="""
    WITH e0 AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS tus
      FROM events
    ), s1 AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'view' THEN tus END)
               OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS lv
      FROM e0
    ), s2 AS (
      SELECT *,
             CASE WHEN event_type = 'click' AND lv IS NOT NULL
                       AND lv >= tus - 3600000000
                  THEN lv END AS anchor
      FROM s1
    ), s3 AS (
      SELECT *,
             MAX(anchor)
               OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS ba
      FROM s2
    ), per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS has1,
             MAX(CASE WHEN anchor IS NOT NULL THEN 1 ELSE 0 END)
               AS has2,
             MAX(CASE WHEN event_type = 'purchase' AND ba IS NOT NULL
                           AND ba >= tus - 3600000000
                      THEN 1 ELSE 0 END) AS has3
      FROM s3 GROUP BY user_id
    )
    SELECT CASE WHEN has3 = 1 THEN 3 WHEN has2 = 1 THEN 2
                WHEN has1 = 1 THEN 1 ELSE 0 END AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY 1
    """,
)
def window_funnel_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered windowed funnel (ClickHouse `windowFunnel` semantics):
    a user reaches level k if view -> click -> purchase occur IN
    ORDER with every later step inside 1 hour of the anchoring view —
    histogrammed over all users. Unlike `funnel_conversion` (global
    first-timestamps), the horizon binds the whole chain to one
    session-scale window, which is what product funnels actually
    mean.

    Formulation: LINEAR single-pass per user, not step joins. Two
    stacked strictly-preceding running maxima carry (a) the latest
    view time onto each click — a click anchors iff that view is
    within the horizon — and (b) the latest valid anchor onto each
    purchase, which completes the chain iff the anchor is within the
    horizon (the latest view/anchor is sufficient: any witness pair
    implies the max also witnesses). Equivalent to the exists-joins
    definition but O(n log n) instead of O(per-user cross products)
    — the join form OOM'd DuckDB at sf1 (55 GiB spill) while this
    runs in seconds in both engines.

    Scale: one shuffle to user partitions, one sorted window pass,
    then a per-user 3-bit rollup and a 4-row histogram. At 100 TB
    this is the sessionization shape — and it streams (the running
    maxima are per-key state under a watermark)."""
    ev = load(spark, sf_dir, "events")
    hour_us = F.lit(3600000000)
    w = (Window.partitionBy("user_id").orderBy("tus", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    e0 = ev.select("user_id", "event_id", "event_type",
                   F.unix_micros(F.col("ts").cast("timestamp"))
                    .alias("tus"))
    s1 = e0.withColumn(
        "lv", F.max(F.when(F.col("event_type") == "view",
                           F.col("tus"))).over(w))
    s2 = s1.withColumn(
        "anchor", F.when((F.col("event_type") == "click")
                         & F.col("lv").isNotNull()
                         & (F.col("lv") >= F.col("tus") - hour_us),
                         F.col("lv")))
    s3 = s2.withColumn("ba", F.max("anchor").over(w))
    per_user = (s3.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
         .alias("has1"),
        F.max(F.when(F.col("anchor").isNotNull(), 1).otherwise(0))
         .alias("has2"),
        F.max(F.when((F.col("event_type") == "purchase")
                     & F.col("ba").isNotNull()
                     & (F.col("ba") >= F.col("tus") - hour_us),
                     1).otherwise(0)).alias("has3")))
    return (per_user
            .select(F.when(F.col("has3") == 1, 3)
                    .when(F.col("has2") == 1, 2)
                    .when(F.col("has1") == 1, 1)
                    .otherwise(0).alias("level"))
            .groupBy("level")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))


@query(
    "tokenizer_fertility",
    oracle="""
    WITH words AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS ws
      FROM documents
    ), per_doc AS (
      SELECT doc_id, lang,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(
                 ws, w -> (length(w) + 3) // 4)) AS BIGINT) AS n_tokens
      FROM words WHERE len(ws) > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(FLOOR(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words)
                      * 1e6 + 0.5) AS BIGINT) AS fertility_e6
    FROM per_doc GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility census per language: subword tokens per
    word under a fixed-width 4-char chunk tokenizer (ceil(len/4) —
    the deterministic stand-in for a BPE vocab; swap in `bpe_encode`
    for a learned one). Fertility is THE signal multilingual corpus
    mixes are balanced on — a language tokenizing at 2x fertility
    pays 2x context budget per word.

    Exactness: token counts are pure integer math per word
    ((len+3)//4, non-negative so floor-division is identical in both
    engines), summed as BIGINTs; one final quantized division per
    language.

    Scale: tokenize-and-count is a single map-side pass (codegen'd
    higher-order array functions, no Python); the census is a
    |langs|-row aggregate."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang",
        F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"),
                 lambda x: x != "").alias("ws"))
    per_doc = (words.filter(F.size("ws") > 0)
               .select("doc_id", "lang",
                       F.size("ws").cast("bigint").alias("n_words"),
                       F.aggregate(
                           "ws", F.lit(0).cast("bigint"),
                           lambda acc, w: acc + F.floor(
                               (F.length(w) + 3) / 4).cast("bigint"))
                       .alias("n_tokens")))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_words").cast("bigint").alias("n_words"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"))
            .withColumn(
                "fertility_e6",
                F.floor(F.col("n_tokens").cast("double")
                        / F.col("n_words") * F.lit(1e6) + F.lit(0.5))
                .cast("bigint")))
