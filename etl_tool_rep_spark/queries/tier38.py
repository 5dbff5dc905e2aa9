"""Tier-38 queries (round 7): experimentation, recsys and
incremental-analytics primitives.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup rules); these extend the
engine's LLM-era pipeline surface on the fixed fixtures:

* `cuped_adjustment` — CUPED variance reduction for A/B metrics
  (theta from pre-period covariance), the standard experimentation
  trick for cutting required sample sizes.
* `als_rank1_sweep` — one exact alternating-least-squares sweep of a
  rank-1 matrix factorization over the supplier x part quantity
  matrix (the collaborative-filtering primitive), integer-certified.
* `seasonal_decompose` — additive STL-lite decomposition of the
  daily event-revenue series: centered 7-day moving-average trend,
  day-of-week seasonal, integer remainder.
* `rolling_regression` — per-supplier 30-observation rolling OLS
  slope of daily revenue (the trend-detection window primitive).

Exactness contract (memory: cross-engine float parity): every
aggregate is an exact BIGINT/DECIMAL integer sum; doubles appear only
in a fixed, identically-parenthesized final expression per row, and
every emitted non-integer is quantized with the
``FLOOR(x * 1eN + 0.5)`` idiom written identically in both engines.
Negative-value quantization uses double FLOOR (identical IEEE
semantics), never integer division (Spark DIV truncates toward zero,
DuckDB // floors — they differ on negatives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import pin
from .registry import query

# integer cents from the events value column (shared with tier2)
_EV_CENTS = "CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT)"
_LI_CENTS = "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"


@query(
    "cuped_adjustment",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS variant,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN {_EV_CENTS} ELSE 0 END) AS pre,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN {_EV_CENTS} ELSE 0 END) AS post
      FROM events GROUP BY user_id
    ), moments AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(pre) AS DOUBLE) AS sx,
             CAST(SUM(post) AS DOUBLE) AS sy,
             CAST(SUM(pre * post) AS DOUBLE) AS sxy,
             CAST(SUM(pre * pre) AS DOUBLE) AS sxx
      FROM per_user
    ), theta AS (
      SELECT n, sx / n AS mu_pre,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS th
      FROM moments
    )
    SELECT v.variant,
           v.n_v, v.sum_post,
           CAST(FLOOR(CAST(v.sum_post AS DOUBLE) / v.n_v * 1e6 + 0.5)
                AS BIGINT) AS mean_post_e6,
           CAST(FLOOR((CAST(v.sum_post AS DOUBLE)
                       - t.th * (CAST(v.sum_pre AS DOUBLE)
                                 - v.n_v * t.mu_pre)) / v.n_v
                      * 1e6 + 0.5) AS BIGINT) AS mean_adj_e6,
           CAST(FLOOR(t.th * 1e9 + 0.5) AS BIGINT) AS theta_e9
    FROM (SELECT variant,
                 CAST(COUNT(*) AS BIGINT) AS n_v,
                 CAST(SUM(pre) AS BIGINT) AS sum_pre,
                 CAST(SUM(post) AS BIGINT) AS sum_post
          FROM per_user GROUP BY variant) v
    CROSS JOIN theta t
    """,
)
def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B metric (Deng et al., WSDM'13): per-user
    post-period revenue adjusted by theta x (pre-period - mean),
    theta = cov(pre, post)/var(pre) pooled over all users. The
    variance-reduction workhorse of production experimentation.

    Exactness: per-user pre/post are integer-cent sums; the moment
    sums stay exact BIGINTs (cross products < 2^63 by fixture bounds;
    Spark side sums them as DECIMAL(38,0) for headroom) and are cast
    to double once; theta and the adjusted means are then a fixed
    sequence of double ops written identically in both engines. The
    per-variant adjusted mean uses the algebraic identity
    sum(adj) = sum(post) - theta * (sum(pre) - n * mu_pre), so no
    per-row double is ever summed (order-independent by
    construction).

    Scale: one groupBy(user) + two metadata-sized aggregates; theta
    attaches as a 1-row broadcast — no shuffle beyond the per-user
    rollup."""
    ev = load(spark, sf_dir, "events")
    cents = F.expr(_EV_CENTS)
    pre_cut = F.lit("2024-01-16").cast("timestamp")
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(F.col("ts") < pre_cut, cents)
                           .otherwise(F.lit(0))).alias("pre"),
                     F.sum(F.when(F.col("ts") >= pre_cut, cents)
                           .otherwise(F.lit(0))).alias("post"))
                .withColumn("variant", F.col("user_id") % 2))
    dec = "decimal(38,0)"
    moments = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("pre").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("post").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("pre") * F.col("post")).cast(dec))
         .cast("double").alias("sxy"),
        F.sum((F.col("pre") * F.col("pre")).cast(dec))
         .cast("double").alias("sxx"))
    theta = moments.select(
        (F.col("sx") / F.col("n")).alias("mu_pre"),
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
        .alias("th"))
    per_variant = (per_user.groupBy("variant")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_v"),
                        F.sum("pre").cast("bigint").alias("sum_pre"),
                        F.sum("post").cast("bigint").alias("sum_post")))
    j = per_variant.crossJoin(F.broadcast(theta))
    return j.select(
        "variant", "n_v", "sum_post",
        F.floor(F.col("sum_post").cast("double") / F.col("n_v")
                * F.lit(1e6) + F.lit(0.5)).cast("bigint")
         .alias("mean_post_e6"),
        F.floor((F.col("sum_post").cast("double")
                 - F.col("th") * (F.col("sum_pre").cast("double")
                                  - F.col("n_v") * F.col("mu_pre")))
                / F.col("n_v") * F.lit(1e6) + F.lit(0.5))
         .cast("bigint").alias("mean_adj_e6"),
        F.floor(F.col("th") * F.lit(1e9) + F.lit(0.5)).cast("bigint")
         .alias("theta_e9"))


@query(
    "als_rank1_sweep",
    oracle="""
    WITH r AS (
      SELECT l_suppkey AS s, l_partkey AS p,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ), u AS (
      -- item factors init at 1.0: u_s = mean rating, kept exact on
      -- the 1e-6 grid via pure integer math (no double division).
      -- `//` (NOT `/`): DuckDB's `/` on BIGINTs is FLOAT division
      -- since 0.6 — `//` is the integer floor-divide that matches
      -- Spark's DIV on these non-negative operands.
      SELECT s,
             CAST((2000000 * SUM(q) + COUNT(*)) AS BIGINT)
               // CAST((2 * COUNT(*)) AS BIGINT) AS u_e6
      FROM r GROUP BY s
    ), v AS (
      SELECT r.p,
             CAST(SUM(r.q * u.u_e6) AS BIGINT) AS num,
             CAST(SUM(u.u_e6 * u.u_e6) AS BIGINT) AS den
      FROM r JOIN u ON u.s = r.s GROUP BY r.p
    )
    SELECT p,
           CAST(FLOOR(1e6 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                      + 0.5) AS BIGINT) AS v_e6
    FROM v
    """,
)
def als_rank1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact sweep of rank-1 ALS matrix factorization over the
    supplier x part quantity matrix: item factors start at 1.0, so
    the user-factor update is the per-supplier mean rating
    (quantized once to the 1e-6 integer grid with pure integer
    floor-half-up math — the oracle uses DuckDB's `//` integer floor
    division, matching Spark's DIV on these non-negative operands,
    so both engines share `(2e6*sum + n) // (2n)` exactly); the item
    update v_p = sum(r * u) / sum(u^2) then has exact BIGINT
    numerator/denominator and one final double division. This is the
    closed-form inner step every distributed ALS recommender
    (Spark MLlib included) iterates.

    Scale: two hash aggregations and one equi-join on the rating
    table's own keys — no per-user or per-item state on the driver,
    factors live in DataFrames end to end."""
    li = load(spark, sf_dir, "lineitem")
    r = (li.groupBy(F.col("l_suppkey").alias("s"),
                    F.col("l_partkey").alias("p"))
         .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint")
              .alias("q")))
    u = (r.groupBy("s")
         .agg(F.expr("CAST((2000000 * SUM(q) + COUNT(*)) AS BIGINT)"
                     " DIV CAST((2 * COUNT(*)) AS BIGINT)")
              .alias("u_e6")))
    v = (r.join(u, "s")
         .groupBy("p")
         .agg(F.sum(F.col("q") * F.col("u_e6")).cast("bigint")
              .alias("num"),
              F.sum(F.col("u_e6") * F.col("u_e6")).cast("bigint")
              .alias("den")))
    return v.select(
        "p",
        F.floor(F.lit(1e6) * F.col("num").cast("double")
                / F.col("den").cast("double") + F.lit(0.5))
         .cast("bigint").alias("v_e6"))


@query(
    "seasonal_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM({_EV_CENTS}) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), tr AS (
      SELECT event_type, day, c,
             SUM(c) OVER w AS t7,
             COUNT(*) OVER w AS n7,
             CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS dow
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT *,
             CASE WHEN n7 = 7 THEN 7 * c - t7 END AS d7
      FROM tr
    ), seas AS (
      SELECT event_type, dow,
             CAST(FLOOR(1e6 * CAST(SUM(d7) AS DOUBLE)
                        / (7.0 * COUNT(d7)) + 0.5) AS BIGINT)
               AS seasonal_e6
      FROM det WHERE d7 IS NOT NULL GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, d.c,
           CASE WHEN d.n7 = 7 THEN
             CAST(FLOOR(1e6 * CAST(d.t7 AS DOUBLE) / 7.0 + 0.5)
                  AS BIGINT) END AS trend_e6,
           s.seasonal_e6,
           CASE WHEN d.n7 = 7 THEN
             1000000 * d.c
             - CAST(FLOOR(1e6 * CAST(d.t7 AS DOUBLE) / 7.0 + 0.5)
                    AS BIGINT)
             - s.seasonal_e6 END AS remainder_e6
    FROM det d JOIN seas s
      ON s.event_type = d.event_type AND s.dow = d.dow
    """,
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive STL-lite decomposition of each event type's daily
    revenue series: trend = centered 7-day moving average (defined
    only where the full 7-row window exists), seasonal = day-of-week
    mean of the detrended series, remainder = series - trend -
    seasonal. The anomaly-detection / forecasting preprocessing
    primitive.

    Exactness: daily values are integer cents; the detrended series
    is kept as the INTEGER 7c - sum7 (x7 grid, no division);
    trend/seasonal quantize once to the 1e-6 grid via double FLOOR
    (identical IEEE semantics for the negative detrended values —
    integer division would differ between engines on negatives);
    the remainder is pure BIGINT arithmetic on those quantized
    values. Day-of-week is epoch-day mod 7 (portable, unlike the
    engines' differing dow() conventions).

    Scale: one shuffle to (event_type, day), one partitioned window
    per series, one dimension-sized (type x 7) seasonal aggregate
    attached by broadcast."""
    ev = load(spark, sf_dir, "events")
    daily = (ev.groupBy(F.col("event_type"),
                        F.col("ts").cast("date").alias("day"))
             .agg(F.sum(F.expr(_EV_CENTS)).cast("bigint").alias("c")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-3, 3))
    tr = (daily
          .withColumn("t7", F.sum("c").over(w))
          .withColumn("n7", F.count(F.lit(1)).over(w))
          .withColumn("dow", (F.datediff(F.col("day"),
                                         F.lit("1970-01-01").cast("date"))
                              .cast("bigint") % 7)))
    det = tr.withColumn(
        "d7", F.when(F.col("n7") == 7, 7 * F.col("c") - F.col("t7")))
    seas = (det.filter(F.col("d7").isNotNull())
            .groupBy("event_type", "dow")
            .agg(F.floor(F.lit(1e6) * F.sum("d7").cast("double")
                         / (F.lit(7.0) * F.count("d7")) + F.lit(0.5))
                 .cast("bigint").alias("seasonal_e6")))
    trend_e6 = F.floor(F.lit(1e6) * F.col("t7").cast("double")
                       / F.lit(7.0) + F.lit(0.5)).cast("bigint")
    out = (det.join(F.broadcast(seas), ["event_type", "dow"])
           .select(
               "event_type", "day", "c",
               F.when(F.col("n7") == 7, trend_e6).alias("trend_e6"),
               "seasonal_e6",
               F.when(F.col("n7") == 7,
                      F.lit(1000000) * F.col("c") - trend_e6
                      - F.col("seasonal_e6")).alias("remainder_e6")))
    return out


@query(
    "rolling_regression",
    oracle=f"""
    WITH daily AS (
      SELECT l_suppkey AS s, CAST(l_shipdate AS DATE) AS day,
             CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS x,
             CAST(SUM({_LI_CENTS}) AS BIGINT) AS y
      FROM lineitem GROUP BY 1, 2, 3
    ), sums AS (
      SELECT s, day,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w AS sx,
             SUM(y) OVER w AS sy,
             SUM(x * y) OVER w AS sxy,
             SUM(x * x) OVER w AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY s ORDER BY day
                   ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT s, day, CAST(n AS BIGINT) AS n_obs,
           CAST(FLOOR(1e9 *
                 (CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) + 0.5)
                AS BIGINT) AS slope_e9
    FROM sums
    WHERE n >= 10 AND n * sxx - sx * sx <> 0
    """,
)
def rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier rolling 30-observation OLS slope of daily revenue
    vs epoch day — the distributed trend-detector (is this series
    ramping up or decaying, per key, per day).

    Exactness: x (epoch day) and y (daily cents) are BIGINTs; the
    five window sums are exact integers; the slope's numerator
    n*sxy - sx*sy and denominator n*sxx - sx^2 are single BIGINT
    expressions (bounded < 2^63 by fixture ranges) cast to double
    for one final division, quantized at 1e-9.

    Scale: one shuffle to (supplier, day) then a per-supplier ROWS
    window — perfectly partitioned, no global sort anywhere;
    the 30-row frame is O(1) state per row in both engines."""
    li = load(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.col("l_suppkey").alias("s"),
                        F.col("l_shipdate").cast("date").alias("day"))
             .agg(F.sum(F.expr(_LI_CENTS)).cast("bigint").alias("y"))
             .withColumn("x", F.datediff(
                 F.col("day"), F.lit("1970-01-01").cast("date"))
                 .cast("bigint")))
    w = (Window.partitionBy("s").orderBy("day").rowsBetween(-29, 0))
    sums = (daily
            .withColumn("n", F.count(F.lit(1)).over(w))
            .withColumn("sx", F.sum("x").over(w))
            .withColumn("sy", F.sum("y").over(w))
            .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(w))
            .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(w)))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (sums.filter((F.col("n") >= 10) & (den != 0))
            .select("s", "day",
                    F.col("n").cast("bigint").alias("n_obs"),
                    F.floor(F.lit(1e9)
                            * (num.cast("double") / den.cast("double"))
                            + F.lit(0.5)).cast("bigint")
                    .alias("slope_e9")))


@query(
    "code_detect",
    oracle="""
    WITH feat AS (
      SELECT doc_id, n_chars,
        CAST(length(text) - length(replace(text, '{', ''))
             AS BIGINT) AS n_brace,
        CAST(length(text) - length(replace(text, ';', ''))
             AS BIGINT) AS n_semi,
        CAST((length(text) - length(replace(text,
             chr(10) || '    ', ''))) / 5 AS BIGINT) AS n_indent,
        CAST((length(text) - length(replace(text, 'def ', ''))) / 4
             + (length(text) - length(replace(text, 'return', ''))) / 6
             AS BIGINT) AS n_kw
      FROM documents
    )
    SELECT doc_id, n_brace, n_semi, n_indent, n_kw,
           CAST(FLOOR(1000.0 * (3 * n_brace + 2 * n_semi
                                + 2 * n_indent + 5 * n_kw)
                      / GREATEST(n_chars, 1) * 1e6 + 0.5)
                AS BIGINT) AS score_per_kc_e6,
           (3 * n_brace + 2 * n_semi + 2 * n_indent + 5 * n_kw) * 1000
             >= 5 * GREATEST(n_chars, 1) AS is_code
    FROM feat
    """,
)
def code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic code-vs-prose classifier over the documents table —
    the corpus-curation gate every code/natural-language training mix
    needs (CodeParrot/StarCoder-style preprocessing): occurrence
    counts of braces, semicolons, 4-space indents and def/return
    keywords via pure length/replace arithmetic (no regex engine
    disagreement), a weighted score per 1000 chars, and an integer
    cross-multiplied threshold test (no float compare at the
    boundary).

    Scale: embarrassingly parallel column expressions over the
    document scan — no shuffle at all, whole-stage codegen end to
    end."""
    d = load(spark, sf_dir, "documents")

    def occurs(pat: str) -> F.Column:
        return ((F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(pat))))
                / len(pat)).cast("bigint")

    feat = d.select(
        "doc_id", "n_chars",
        occurs("{").alias("n_brace"),
        occurs(";").alias("n_semi"),
        ((F.length("text")
          - F.length(F.replace(F.col("text"),
                               F.concat(F.lit("\n"), F.lit("    ")))))
         / 5).cast("bigint").alias("n_indent"),
        (occurs("def ") + occurs("return")).alias("n_kw"))
    score = (3 * F.col("n_brace") + 2 * F.col("n_semi")
             + 2 * F.col("n_indent") + 5 * F.col("n_kw"))
    denom = F.greatest(F.col("n_chars"), F.lit(1))
    return feat.select(
        "doc_id", "n_brace", "n_semi", "n_indent", "n_kw",
        F.floor(F.lit(1000.0) * score / denom * F.lit(1e6)
                + F.lit(0.5)).cast("bigint").alias("score_per_kc_e6"),
        (score * 1000 >= 5 * denom).alias("is_code"))


@query(
    "cohort_overlap",
    oracle="""
    WITH e AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), sz AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.shared,
           sa.n AS n_a, sb.n AS n_b,
           CAST(FLOOR(CAST(p.shared AS DOUBLE)
                      / (sa.n + sb.n - p.shared) * 1e6 + 0.5)
                AS BIGINT) AS jaccard_e6
    FROM pairs p
    JOIN sz sa ON sa.event_type = p.type_a
    JOIN sz sb ON sb.event_type = p.type_b
    """,
)
def cohort_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how
    many users did both, with Jaccard similarity — the cohort
    composition question behind campaign targeting and feature
    adoption dashboards.

    Scale: pair candidates are generated ONLY through the user-key
    equi-join (volume = sum over users of (types-per-user)^2,
    bounded by the |event_type| dimension — never a cohort cross
    join); the output is the |types|^2 dimension matrix; sizes
    attach by broadcast."""
    ev = load(spark, sf_dir, "events")
    # r14 census pin: the distinct (user, type) frame feeds the size
    # census AND both self-join sides (4 events scans + 3 distinct
    # recomputes in the before-plan)
    e = pin(ev.select("user_id", "event_type").distinct(), eager=False)
    sz = (e.groupBy("event_type")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    a = e.alias("a")
    b = e.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("shared")))
    sa = F.broadcast(sz.select(F.col("event_type").alias("type_a"),
                               F.col("n").alias("n_a")))
    sb = F.broadcast(sz.select(F.col("event_type").alias("type_b"),
                               F.col("n").alias("n_b")))
    return (pairs.join(sa, "type_a").join(sb, "type_b")
            .select("type_a", "type_b", "shared", "n_a", "n_b",
                    F.floor(F.col("shared").cast("double")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("shared")) * F.lit(1e6)
                            + F.lit(0.5)).cast("bigint")
                    .alias("jaccard_e6")))


_IVM_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"


@query(
    "ivm_delta_agg",
    oracle=f"""
    WITH base AS (
      SELECT * FROM orders WHERE o_orderkey % 7 <> 0
    ), after AS (
      SELECT * FROM base WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderstatus AS status,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_IVM_CENTS}) AS BIGINT) AS sum_cents
    FROM after GROUP BY 1, 2
    """,
)
def ivm_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a GROUP BY aggregate: the
    materialized view (counts + sums per (status, month) over
    yesterday's fact state) is updated by APPLYING A DELTA BATCH —
    deletes as weight -1, inserts as weight +1, combined with the
    stored view by summing counts and sums per group, dropping
    groups whose count reaches zero — WITHOUT rescanning the base
    fact rows. The oracle recomputes the final state directly from
    the after-image; matching it proves the delta algebra (the
    Tapir/DBSP self-maintainability rule for distributive
    aggregates).

    Scale: this is the 100 TB point — maintaining a 10^5-group view
    under a 10^6-row delta costs one delta-sized aggregate plus a
    view-sized merge, instead of re-aggregating 10^11 base rows."""
    orders = load(spark, sf_dir, "orders")
    cents = F.expr(_IVM_CENTS)
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")

    base = orders.filter(F.col("o_orderkey") % 7 != 0)
    # the stored view: yesterday's aggregate state
    view = (base.groupBy(F.col("o_orderstatus").alias("status"),
                         month.alias("month"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.sum(cents).cast("bigint").alias("sum_cents")))
    # CDC delta: deletes from the base state, inserts of new keys
    deletes = (base.filter(F.col("o_orderkey") % 5 == 0)
               .select(F.col("o_orderstatus").alias("status"),
                       month.alias("month"),
                       F.lit(-1).cast("bigint").alias("w"),
                       (-cents).alias("wc")))
    inserts = (orders.filter(F.col("o_orderkey") % 7 == 0)
               .select(F.col("o_orderstatus").alias("status"),
                       month.alias("month"),
                       F.lit(1).cast("bigint").alias("w"),
                       cents.alias("wc")))
    delta = (deletes.unionByName(inserts)
             .groupBy("status", "month")
             .agg(F.sum("w").cast("bigint").alias("d_n"),
                  F.sum("wc").cast("bigint").alias("d_c")))
    merged = (view.join(delta, ["status", "month"], "full_outer")
              .select("status", "month",
                      (F.coalesce(F.col("n_rows"), F.lit(0))
                       + F.coalesce(F.col("d_n"), F.lit(0)))
                      .cast("bigint").alias("n_rows"),
                      (F.coalesce(F.col("sum_cents"), F.lit(0))
                       + F.coalesce(F.col("d_c"), F.lit(0)))
                      .cast("bigint").alias("sum_cents")))
    return merged.filter(F.col("n_rows") > 0)


#: max distinct item classes a basket may contribute to the lattice
#: expansion. A basket over the cap is excluded from BOTH the triple
#: and the pair expansion (support and confidence stay mutually
#: consistent — an excluded basket feeds neither numerator nor
#: denominator). With 50 item classes the cap equals the universe,
#: so it never fires on any fixture; it exists so a 1000-item retail
#: basket bounds at C(cap,3) instead of C(1000,3) ~ 1.7e8 rows from
#: one key.
_TB_CAP = 50

_TB_ORACLE = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey % 50 AS i
      FROM lineitem
    ), bsz AS (
      SELECT o, COUNT(*) AS bs FROM items GROUP BY o
    ), capped AS (
      SELECT i.o, i.i FROM items i JOIN bsz USING (o)
      WHERE bsz.bs <= {_TB_CAP}
    ), triples AS (
      SELECT a.i AS i1, b.i AS i2, c.i AS i3,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM capped a
      JOIN capped b ON a.o = b.o AND a.i < b.i
      JOIN capped c ON b.o = c.o AND b.i < c.i
      GROUP BY 1, 2, 3
    ), pairs AS (
      SELECT a.i AS i1, b.i AS i2, CAST(COUNT(*) AS BIGINT) AS psup
      FROM capped a JOIN capped b ON a.o = b.o AND a.i < b.i
      GROUP BY 1, 2
    )
    SELECT t.i1, t.i2, t.i3, t.support,
           CAST(FLOOR(1e6 * CAST(t.support AS DOUBLE) / p.psup + 0.5)
                AS BIGINT) AS conf_12_3_e6
    FROM triples t JOIN pairs p ON p.i1 = t.i1 AND p.i2 = t.i2
    WHERE t.support >= 5
"""


@query("triple_basket", oracle=_TB_ORACLE)
def triple_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-itemset market-basket mining with rule confidence: item
    classes (part key mod 50) per order, all a<b<c triples counted
    across baskets, confidence of {i1,i2} -> i3 attached from the
    pair support. Extends the pairwise `market_basket` key one level
    up the Apriori lattice.

    Scale (round 10 — basket-set form with a fan-out cap): baskets
    materialize ONCE as sorted per-order class sets (a single
    map-side-combinable shuffle on the order key); triples and pairs
    explode JVM-side from each set, so the old triple self-join's
    two extra corpus shuffles are gone. Baskets above ``_TB_CAP``
    distinct classes are excluded from BOTH expansions (the cap is
    in the oracle too — semantics, not an approximation), bounding
    the per-basket fan-out at C(cap,3) where an uncapped 1000-item
    retail basket would emit C(1000,3) ~ 1.7e8 rows from one shuffle
    key. Here the class universe (50) makes the cap a no-op; see
    SCALE.md for the measured basket-size distribution."""
    li = load(spark, sf_dir, "lineitem")
    baskets = pin(li.select(F.col("l_orderkey").alias("o"),
                            (F.col("l_partkey") % 50).alias("i"))
                  .groupBy("o").agg(F.collect_set("i").alias("_s0"))
                  .filter(F.size("_s0") <= _TB_CAP)
                  .select(F.array_sort("_s0").alias("_s")), eager=False)
    triples_expr = F.expr("""
        flatten(transform(_s, x ->
          flatten(transform(filter(_s, y -> y > x), y ->
            transform(filter(_s, z -> z > y), z ->
              struct(x AS i1, y AS i2, z AS i3))))))""")
    pairs_expr = F.expr("""
        flatten(transform(_s, x ->
          transform(filter(_s, y -> y > x), y ->
            struct(x AS i1, y AS i2))))""")
    triples = (baskets.select(F.explode(triples_expr).alias("_t"))
               .groupBy(F.col("_t.i1").alias("i1"),
                        F.col("_t.i2").alias("i2"),
                        F.col("_t.i3").alias("i3"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("support")))
    pairs = (baskets.select(F.explode(pairs_expr).alias("_p"))
             .groupBy(F.col("_p.i1").alias("i1"),
                      F.col("_p.i2").alias("i2"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("psup")))
    return (triples.filter(F.col("support") >= 5)
            .join(pairs, ["i1", "i2"])
            .select("i1", "i2", "i3", "support",
                    F.floor(F.lit(1e6) * F.col("support").cast("double")
                            / F.col("psup") + F.lit(0.5))
                    .cast("bigint").alias("conf_12_3_e6")))
