"""Tier-28 queries: information-theoretic dependence, embedding
compression, survival analysis, and language-model evaluation.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the
training-data-pipeline surface with the statistics a corpus team
runs BETWEEN pipeline stages: does a label leak into a feature
(mutual information / chi-square), how lossy is int8 embedding
storage (quantization error census), how long do entities survive
(Kaplan-Meier), and how surprising is each document under the
corpus's own unigram model (per-doc perplexity — the classic
quality/outlier filter).

Float parity follows the house rules (queries/tier19.py docstrings
and the cross-engine notes): every logarithm is rounded onto a 1e-6
integer grid PER TERM before any sum, so accumulation order never
matters; ratios of exact integers use the FLOOR(x * 1eN + 0.5) / 1eN
idiom written token-identically in both engines; SQRT is IEEE
correctly-rounded and therefore safe on an identical double input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import pin
from .registry import query

# quantized natural log of a positive BIGINT, on a 1e-6 grid —
# the per-term discipline that makes log sums order-independent
_LNQ = ("CAST(FLOOR(LN(CAST({v} AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)")


# ---------------------------------------------------------------------------
# mutual information between two categoricals (leakage detector)
# ---------------------------------------------------------------------------

@query(
    "mutual_information",
    oracle=f"""
    WITH cell AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS nxy
      FROM orders GROUP BY 1, 2),
    mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx
           FROM cell GROUP BY 1),
    my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny
           FROM cell GROUP BY 1),
    tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cell),
    terms AS (
      SELECT nxy * ({_LNQ.format(v='nxy')} + {_LNQ.format(v='n')}
                    - {_LNQ.format(v='nx')} - {_LNQ.format(v='ny')})
                 AS mi_t,
             nxy, nx, ny, n
      FROM cell JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
    hx AS (
      SELECT CAST(SUM(nx * ({_LNQ.format(v='n')}
                            - {_LNQ.format(v='nx')})) AS BIGINT) AS q
      FROM mx CROSS JOIN tot),
    hy AS (
      SELECT CAST(SUM(ny * ({_LNQ.format(v='n')}
                            - {_LNQ.format(v='ny')})) AS BIGINT) AS q
      FROM my CROSS JOIN tot)
    SELECT MAX(n) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(FLOOR(CAST(SUM(mi_t) AS DOUBLE)
                 / (CAST(MAX(n) AS DOUBLE) * 1000000.0) * 1000000.0
                 + 0.5) / 1000000.0 AS DOUBLE) AS mi_nats,
           CAST(FLOOR(CAST((SELECT q FROM hx) AS DOUBLE)
                 / (CAST(MAX(n) AS DOUBLE) * 1000000.0) * 1000000.0
                 + 0.5) / 1000000.0 AS DOUBLE) AS h_x,
           CAST(FLOOR(CAST((SELECT q FROM hy) AS DOUBLE)
                 / (CAST(MAX(n) AS DOUBLE) * 1000000.0) * 1000000.0
                 + 0.5) / 1000000.0 AS DOUBLE) AS h_y
    FROM terms
    """,
)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between order priority and order
    status, with both marginal entropies — the dependence census a
    feature pipeline runs to catch a label leaking into a feature
    (MI ~ 0 means safe; MI ~ H(label) means the feature IS the
    label). Every log is quantized to a 1e-6 integer grid per term,
    so each MI term nxy*(ln nxy + ln N - ln nx - ln ny) is an exact
    integer and the sum is association-free.

    Scale: one map-side-combinable GROUP BY over the (x, y) cells —
    |X| x |Y| rows regardless of table size — then arithmetic on the
    tiny cell census; marginals join broadcast-small.
    """
    od = load(spark, sf_dir, "orders")
    cell = (od.groupBy(F.col("o_orderpriority").alias("x"),
                       F.col("o_orderstatus").alias("y"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("nxy")))
    # one pass over the |X| x |Y| census: marginals and the total via
    # windows, entropy contributions emitted once per distinct
    # marginal row (rn == 1) so a single aggregation yields MI, H(X),
    # H(Y) — no broadcast-join chain, no re-derived scans
    wx, wy = Window.partitionBy("x"), Window.partitionBy("y")
    wall = Window.partitionBy()
    lnq = lambda v: _LNQ.format(v=v)  # noqa: E731
    w = (cell
         .withColumn("nx", F.sum("nxy").over(wx).cast("bigint"))
         .withColumn("ny", F.sum("nxy").over(wy).cast("bigint"))
         .withColumn("n", F.sum("nxy").over(wall).cast("bigint"))
         .withColumn("rx", F.row_number().over(
             wx.orderBy("y")))
         .withColumn("ry", F.row_number().over(
             wy.orderBy("x"))))
    terms = w.select(
        "n",
        F.expr(f"nxy * ({lnq('nxy')} + {lnq('n')} - {lnq('nx')}"
               f" - {lnq('ny')})").alias("mi_t"),
        F.expr(f"CASE WHEN rx = 1 THEN"
               f" nx * ({lnq('n')} - {lnq('nx')}) ELSE 0 END")
        .alias("hx_t"),
        F.expr(f"CASE WHEN ry = 1 THEN"
               f" ny * ({lnq('n')} - {lnq('ny')}) ELSE 0 END")
        .alias("hy_t"))
    agg = terms.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("mi_t").cast("bigint").alias("mi_q"),
        F.sum("hx_t").cast("bigint").alias("hx_q"),
        F.sum("hy_t").cast("bigint").alias("hy_q"))
    ratio = ("CAST(FLOOR(CAST({q} AS DOUBLE)"
             " / (CAST(n AS DOUBLE) * 1000000.0) * 1000000.0"
             " + 0.5) AS DOUBLE) / 1000000.0")
    return agg.select(
        "n", "n_cells",
        F.expr(ratio.format(q="mi_q")).alias("mi_nats"),
        F.expr(ratio.format(q="hx_q")).alias("h_x"),
        F.expr(ratio.format(q="hy_q")).alias("h_y"))


# ---------------------------------------------------------------------------
# chi-square test of independence + Cramer's V
# ---------------------------------------------------------------------------

@query(
    "chi2_independence",
    oracle="""
    WITH cell AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2),
    mx AS (SELECT x, CAST(SUM(o) AS BIGINT) AS nx
           FROM cell GROUP BY 1),
    my AS (SELECT y, CAST(SUM(o) AS BIGINT) AS ny
           FROM cell GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell),
    full_grid AS (
      SELECT mx.x, my.y, mx.nx, my.ny, tot.n,
             COALESCE(cell.o, 0) AS o
      FROM mx CROSS JOIN my CROSS JOIN tot
      LEFT JOIN cell ON cell.x = mx.x AND cell.y = my.y),
    terms AS (
      SELECT n, nx, ny,
             CAST(FLOOR(CAST(o * n - nx * ny AS DOUBLE)
                   * CAST(o * n - nx * ny AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(nx AS DOUBLE)
                      * CAST(ny AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS t_q
      FROM full_grid),
    dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mx) AS r,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM my) AS c)
    SELECT MAX(n) AS n,
           (r - 1) * (c - 1) AS dof,
           CAST(CAST(SUM(t_q) AS DOUBLE) / 1000000.0 AS DOUBLE)
               AS chi2,
           CAST(FLOOR(SQRT(CAST(SUM(t_q) AS DOUBLE) / 1000000.0
                 / (CAST(MAX(n) AS DOUBLE)
                    * LEAST(r - 1, c - 1))) * 1000000.0 + 0.5)
                 / 1000000.0 AS DOUBLE) AS cramers_v
    FROM terms CROSS JOIN dims
    GROUP BY r, c
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence on the (priority,
    status) contingency table, plus Cramer's V effect size — the
    categorical companion to `ks_test` / `psi_drift` for "did this
    feature become dependent on that one". The per-cell statistic is
    rewritten as (o*N - nx*ny)^2 / (N*nx*ny): numerator differences
    stay exact BIGINTs, each cell's double value is quantized to a
    1e-6 grid before the sum, and zero cells of the full r x c grid
    are completed so the statistic matches the textbook definition.
    SQRT is IEEE correctly-rounded, so Cramer's V is safe to compare
    once its input double is identical.

    Scale: identical posture to `mutual_information` — one
    map-side-combinable cell census, then dimension-sized arithmetic
    with broadcast marginals; the r x c completion is a cross of two
    tiny dimension tables.
    """
    od = load(spark, sf_dir, "orders")
    cell = (od.groupBy(F.col("o_orderpriority").alias("x"),
                       F.col("o_orderstatus").alias("y"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("o")))
    mx = cell.groupBy("x").agg(F.sum("o").cast("bigint").alias("nx"))
    my = cell.groupBy("y").agg(F.sum("o").cast("bigint").alias("ny"))
    tot = cell.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (mx.crossJoin(F.broadcast(my))
            .crossJoin(F.broadcast(tot))
            .join(cell, ["x", "y"], "left")
            .withColumn("o", F.coalesce(F.col("o"), F.lit(0))))
    terms = grid.withColumn("t_q", F.expr(
        "CAST(FLOOR(CAST(o * n - nx * ny AS DOUBLE)"
        " * CAST(o * n - nx * ny AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(nx AS DOUBLE)"
        " * CAST(ny AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"))
    r = mx.agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    c = my.agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    agg = (terms.agg(F.max("n").alias("n"),
                     F.sum("t_q").cast("bigint").alias("sq"))
           .crossJoin(F.broadcast(r)).crossJoin(F.broadcast(c)))
    return agg.select(
        "n",
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        (F.col("sq").cast("double") / 1000000.0).alias("chi2"),
        F.expr("CAST(FLOOR(SQRT(CAST(sq AS DOUBLE) / 1000000.0"
               " / (CAST(n AS DOUBLE) * LEAST(r - 1, c - 1)))"
               " * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0")
        .alias("cramers_v"))


# ---------------------------------------------------------------------------
# int8 embedding quantization census (storage-compression loss)
# ---------------------------------------------------------------------------

@query(
    "embedding_int8_quant",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding AS e,
             (SELECT MAX(ABS(CAST(v AS DOUBLE)))
              FROM unnest(embedding) AS t(v)) AS amax
      FROM embeddings),
    el AS (
      SELECT vec_id, amax,
             CAST(u.v AS DOUBLE) AS x
      FROM base, unnest(e) AS u(v)),
    q AS (
      SELECT vec_id, amax, x,
             GREATEST(-127, LEAST(127,
               CAST(FLOOR(x * 127.0 / amax + 0.5) AS BIGINT))) AS qi
      FROM el WHERE amax > 0),
    terms AS (
      SELECT vec_id, qi,
             CAST(FLOOR((x - CAST(qi AS DOUBLE) * amax / 127.0)
                   * (x - CAST(qi AS DOUBLE) * amax / 127.0)
                   * 1000000000.0 + 0.5) AS BIGINT) AS e_q
      FROM q)
    SELECT vec_id,
           CAST(SUM(qi) AS BIGINT) AS q_sum,
           CAST(SUM(ABS(qi)) AS BIGINT) AS q_l1,
           CAST(SUM(CASE WHEN ABS(qi) = 127 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sat,
           CAST(CAST(SUM(e_q) AS DOUBLE) / 1000000000.0 AS DOUBLE)
               AS mse_sum
    FROM terms GROUP BY vec_id
    """,
)
def embedding_int8_quant(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Per-vector int8 symmetric quantization census over the
    embeddings table: each float is mapped to round(x * 127 / amax)
    clamped to [-127, 127] (the standard absmax scheme every vector
    store ships), and the output certifies the codes (sum, L1,
    saturation count) plus the reconstruction squared error — the
    number that decides whether 4x-cheaper embedding storage is
    safe for the ANN stack. FLOAT -> DOUBLE casts are exact; the
    quantized code is an exact integer via the floor(+0.5) idiom;
    each squared-error term is quantized to a 1e-9 grid before the
    per-vector sum.

    Scale: embarrassingly parallel — one scan, per-row array
    arithmetic inside whole-stage codegen (explode + re-group here
    keeps every op JVM-side; at 100 TB the same shape runs as
    aggregate() higher-order functions with zero shuffle since the
    group-back key is the row it came from).
    """
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.expr("array_max(transform(embedding,"
               " v -> ABS(CAST(v AS DOUBLE))))").alias("amax"))
    el = (base.select("vec_id", "amax",
                      F.explode("e").alias("v"))
          .select("vec_id", "amax",
                  F.col("v").cast("double").alias("x"))
          .filter(F.col("amax") > 0))
    q = el.withColumn("qi", F.expr(
        "GREATEST(-127, LEAST(127,"
        " CAST(FLOOR(x * 127.0 / amax + 0.5) AS BIGINT)))"))
    terms = q.withColumn("e_q", F.expr(
        "CAST(FLOOR((x - CAST(qi AS DOUBLE) * amax / 127.0)"
        " * (x - CAST(qi AS DOUBLE) * amax / 127.0)"
        " * 1000000000.0 + 0.5) AS BIGINT)"))
    return (terms.groupBy("vec_id")
            .agg(F.sum("qi").cast("bigint").alias("q_sum"),
                 F.sum(F.abs(F.col("qi"))).cast("bigint")
                 .alias("q_l1"),
                 F.sum(F.when(F.abs(F.col("qi")) == 127, 1)
                       .otherwise(0)).cast("bigint").alias("n_sat"),
                 (F.sum("e_q").cast("double") / 1000000000.0)
                 .alias("mse_sum")))


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimate (censoring-aware lifetimes)
# ---------------------------------------------------------------------------

@query(
    "kaplan_meier",
    oracle="""
    WITH life AS (
      SELECT o.o_orderkey,
             o.o_orderpriority AS prio,
             GREATEST(date_diff('day', CAST(o.o_orderdate AS DATE),
                      CAST(MAX(l.l_shipdate) AS DATE)), 0) // 7
                 AS t,
             CASE WHEN o.o_orderstatus <> 'O' THEN 1 ELSE 0 END
                 AS ev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate,
               o.o_orderstatus),
    tt AS (
      SELECT prio, t,
             CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c_all
      FROM life GROUP BY 1, 2),
    risk AS (
      SELECT prio, t, d, c_all,
             CAST(SUM(c_all) OVER (PARTITION BY prio ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk
      FROM tt),
    lg AS (
      SELECT prio, t, d, c_all, n_risk,
             CASE WHEN d = 0 THEN 0
                  WHEN d < n_risk THEN
                    CAST(FLOOR(LN(1.0 - CAST(d AS DOUBLE) / n_risk)
                          * 1000000.0 + 0.5) AS BIGINT)
                  ELSE NULL END AS ln_q
      FROM risk),
    cum AS (
      SELECT prio, t, d, n_risk, c_all - d AS censored,
             CAST(SUM(ln_q) OVER (PARTITION BY prio ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_q,
             CAST(SUM(CASE WHEN ln_q IS NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY prio ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS dead
      FROM lg)
    SELECT prio, t AS t_weeks, n_risk, d AS d_events, censored,
           CASE WHEN dead > 0 THEN NULL ELSE
             CAST(CAST(cum_q AS DOUBLE) / 1000000.0 AS DOUBLE) END
               AS log_survival
    FROM cum
    """,
)
def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of order completion time per
    priority: duration = weeks from order date to the LAST line
    shipment, an order still 'O' (open) at its last observed
    shipment is right-CENSORED — it leaves the risk set without
    counting as an event, exactly the property naive "average
    lifetime" analyses get wrong. Output per (priority, week): risk
    set size, events, censored, and the cumulative log-survival
    ln S(t) = sum ln(1 - d_i/n_i), each term quantized to a 1e-6
    integer grid (so the cumulative sum is exact); once the curve
    hits zero (d = n at the final time) log-survival is NULL.

    Scale: the per-order lifetime is one groupBy over (order, meta);
    the curve itself is arithmetic on the |priorities| x |weeks|
    census with two windows over that tiny table — fact-table cost
    is a single co-partitioned join + aggregate.
    """
    od = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    life = (od.join(li, od.o_orderkey == li.l_orderkey)
            .groupBy(od.o_orderkey,
                     F.col("o_orderpriority").alias("prio"),
                     F.when(F.col("o_orderstatus") != "O", 1)
                     .otherwise(0).alias("ev"))
            .agg(F.max("l_shipdate").alias("last_ship"),
                 F.first("o_orderdate").alias("od"))
            .select("prio", "ev",
                    (F.greatest(
                        F.datediff(F.col("last_ship").cast("date"),
                                   F.col("od").cast("date")),
                        F.lit(0)) / 7).cast("bigint").alias("t")))
    tt = (life.groupBy("prio", "t")
          .agg(F.sum("ev").cast("bigint").alias("d"),
               F.count(F.lit(1)).cast("bigint").alias("c_all")))
    w_fwd = (Window.partitionBy("prio").orderBy("t")
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    w_cum = (Window.partitionBy("prio").orderBy("t")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = tt.withColumn(
        "n_risk", F.sum("c_all").over(w_fwd).cast("bigint"))
    lg = risk.withColumn("ln_q", F.expr(
        "CASE WHEN d = 0 THEN 0 WHEN d < n_risk THEN"
        " CAST(FLOOR(LN(1.0 - CAST(d AS DOUBLE) / n_risk)"
        " * 1000000.0 + 0.5) AS BIGINT) ELSE NULL END"))
    cum = (lg
           .withColumn("cum_q",
                       F.sum("ln_q").over(w_cum).cast("bigint"))
           .withColumn("dead", F.sum(
               F.when(F.col("ln_q").isNull(), 1).otherwise(0))
               .over(w_cum).cast("bigint")))
    return cum.select(
        "prio", F.col("t").alias("t_weeks"), "n_risk",
        F.col("d").alias("d_events"),
        (F.col("c_all") - F.col("d")).alias("censored"),
        F.when(F.col("dead") > 0, F.lit(None).cast("double"))
        .otherwise(F.col("cum_q").cast("double") / 1000000.0)
        .alias("log_survival"))


# ---------------------------------------------------------------------------
# per-document perplexity under the corpus's own unigram model
# ---------------------------------------------------------------------------

@query(
    "doc_perplexity",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> x <> '')) AS w
      FROM documents),
    freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM toks GROUP BY 1),
    corpus AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM freq),
    scored AS (
      SELECT toks.doc_id,
             {_LNQ.format(v='corpus.t + corpus.v')}
               - {_LNQ.format(v='freq.cnt + 1')} AS nll_q
      FROM toks JOIN freq USING (w) CROSS JOIN corpus)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(FLOOR(CAST(SUM(nll_q) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS nll
    FROM scored GROUP BY doc_id
    """,
)
def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood (nats/token) under
    the corpus's own add-1-smoothed unigram model — the classic
    cheap perplexity filter: documents far above the corpus mean are
    boilerplate/noise/foreign; far below are repetitive. Each token's
    -ln p = ln(T + V) - ln(cnt + 1) is a difference of two
    grid-quantized logs of exact integers, so per-doc sums are exact
    BIGINTs and the final per-token mean is one quantized division.
    Complements `unigram_logprob` (corpus-level) and `quality_score`
    (heuristic) with a model-based per-doc score.

    Scale: two corpus-sized aggregations (token census, per-doc sum)
    plus one token->frequency equi-join; the frequency table is
    vocabulary-sized (Heaps' law: ~sqrt of corpus) so at 100 TB the
    join is a standard shuffle join with the census map-side
    combined, and the corpus scalars ride in a broadcast.
    """
    docs = load(spark, sf_dir, "documents")
    # r13: pin the token frame and the census — toks feeds the
    # census and the scoring join, freq feeds the corpus scalars and
    # the same join; unpinned, the tokenize ran 3x (r13-open plan)
    toks = pin(docs.select(
        "doc_id",
        F.explode(F.expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
        .alias("w")), eager=False)
    freq = pin(toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")), eager=False)
    corpus = freq.agg(F.sum("cnt").cast("bigint").alias("t"),
                      F.count(F.lit(1)).cast("bigint").alias("v"))
    scored = (toks.join(freq, "w")
              .crossJoin(F.broadcast(corpus))
              .select("doc_id", F.expr(
                  f"{_LNQ.format(v='t + v')}"
                  f" - {_LNQ.format(v='cnt + 1')}").alias("nll_q")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.expr("CAST(FLOOR(CAST(SUM(nll_q) AS DOUBLE)"
                        " / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)"
                        " * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0")
                 .alias("nll")))
