"""Tier-30 queries: supervised feature engineering and model
training/evaluation primitives behind the exact oracle gate.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these close the loop the
earlier tiers opened: tier-27's `target_encode_oof` encodes with a
mean, `woe_encoding` encodes with class log-odds (the credit-risk
standard) and certifies the information-value diagnostic;
`decision_stump_train` is an actual trained model (the best
single-feature split by Gini gain over decile candidate thresholds);
`naive_bayes_score` trains a multinomial NB language classifier on
the corpus and scores every document, certifying train + inference
end to end; `mann_whitney_u` adds the rank-sum two-sample test that
`ks_test` (max-gap) and `chi2_independence` (categorical) do not
cover.

Float parity follows the house rules: logs quantize to a 1e-6
integer grid per term (halves fold in exactly: ln(c + 0.5) =
lnq(2c+1) - lnq(2)); rank sums double to stay integral under
midpoint ties; order-statistic indexes are pure integer arithmetic;
final ratios use the FLOOR(x * 1eN + 0.5) / 1eN idiom written
token-identically in both engines.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rank import global_row_number, grouped_prefix_sum
from ..session import pin
from .registry import query
from .tier28 import _LNQ


# ---------------------------------------------------------------------------
# weight-of-evidence encoding + information value
# ---------------------------------------------------------------------------

@query(
    "woe_encoding",
    oracle=f"""
    WITH lab AS (
      SELECT o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    per AS (
      SELECT cat,
             CAST(SUM(y) AS BIGINT) AS gc,
             CAST(SUM(1 - y) AS BIGINT) AS bc
      FROM lab GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(gc) AS BIGINT) AS gt,
             CAST(SUM(bc) AS BIGINT) AS bt
      FROM per),
    woe AS (
      SELECT cat, gc, bc, gt, bt,
             {_LNQ.format(v='2 * gc + 1')}
               - {_LNQ.format(v='2 * bc + 1')}
               - {_LNQ.format(v='gt')} + {_LNQ.format(v='bt')}
                 AS woe_q
      FROM per CROSS JOIN tot),
    iv AS (
      SELECT cat, gc, bc, woe_q,
             CAST(FLOOR((CAST(gc AS DOUBLE) / gt
                         - CAST(bc AS DOUBLE) / bt)
                   * woe_q + 0.5) AS BIGINT) AS iv_q
      FROM woe)
    SELECT cat, gc AS n_good, bc AS n_bad,
           CAST(CAST(woe_q AS DOUBLE) / 1000000.0 AS DOUBLE) AS woe,
           CAST(CAST(SUM(iv_q) OVER () AS DOUBLE) / 1000000.0
                AS DOUBLE) AS information_value
    FROM iv
    """,
)
def woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of order priority against the
    finished/not-finished label, with the information value of the
    whole feature attached to every row — the credit-scoring
    standard for turning a categorical into a monotone risk score
    (and IV is THE triage number for "is this feature worth
    keeping": < 0.02 useless, > 0.5 suspicious). The 0.5 Laplace
    smoothing folds into integer logs exactly (ln(c + 0.5) =
    lnq(2c+1) - lnq 2, and the two lnq(2) terms cancel), so WoE is
    an exact integer on the 1e-6 grid; each IV term quantizes the
    share-difference x WoE product before the sum.

    Scale: one map-side-combinable census over (category), a 1-row
    totals attach, and arithmetic on |categories| rows.
    """
    od = load(spark, sf_dir, "orders")
    lab = od.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .alias("y"))
    per = lab.groupBy("cat").agg(
        F.sum("y").cast("bigint").alias("gc"),
        F.sum(1 - F.col("y")).cast("bigint").alias("bc"))
    tot = per.agg(F.sum("gc").cast("bigint").alias("gt"),
                  F.sum("bc").cast("bigint").alias("bt"))
    woe = (per.crossJoin(F.broadcast(tot))
           .withColumn("woe_q", F.expr(
               f"{_LNQ.format(v='2 * gc + 1')}"
               f" - {_LNQ.format(v='2 * bc + 1')}"
               f" - {_LNQ.format(v='gt')} + {_LNQ.format(v='bt')}")))
    iv = woe.withColumn("iv_q", F.expr(
        "CAST(FLOOR((CAST(gc AS DOUBLE) / gt"
        " - CAST(bc AS DOUBLE) / bt) * woe_q + 0.5) AS BIGINT)"))
    return iv.select(
        "cat", F.col("gc").alias("n_good"), F.col("bc").alias("n_bad"),
        (F.col("woe_q").cast("double") / 1000000.0).alias("woe"),
        (F.sum("iv_q").over(Window.partitionBy()).cast("double")
         / 1000000.0).alias("information_value"))


# ---------------------------------------------------------------------------
# decision stump: best single split by Gini gain
# ---------------------------------------------------------------------------

# Gini impurity reduction of a split: pos of n rows positive, posl of
# the nl rows at or below the threshold; gain on the 1e-9 grid
_GAIN_Q_SQL = """CAST(FLOOR((
               (CAST(2 AS DOUBLE) * pos * (n - pos))
                 / (CAST(n AS DOUBLE) * n)
               - CAST(nl AS DOUBLE) / n
                 * ((CAST(2 AS DOUBLE) * posl * (nl - posl))
                    / (CAST(nl AS DOUBLE) * nl))
               - CAST(n - nl AS DOUBLE) / n
                 * ((CAST(2 AS DOUBLE) * (pos - posl)
                     * ((n - nl) - (pos - posl)))
                    / (CAST(n - nl AS DOUBLE) * (n - nl)))
             ) * 1000000000.0 + 0.5) AS BIGINT) AS gain_q"""


def _gini_gain_q() -> Column:
    """The BIGINT ``gain_q`` of the split in columns pos, n, posl, nl:
    the parent's Gini impurity minus each side's, weighted by its
    share of rows, quantized to the 1e-9 grid (decimal literals, as
    the SQL parser reads them)."""
    pos, n, posl, nl = (F.col(c) for c in ("pos", "n", "posl", "nl"))

    def gini(p: Column, m: Column) -> Column:
        return ((F.lit(2).cast("double") * p * (m - p))
                / (m.cast("double") * m))

    gain = (gini(pos, n)
            - nl.cast("double") / n * gini(posl, nl)
            - (n - nl).cast("double") / n * gini(pos - posl, n - nl))
    return F.floor(gain * F.lit(Decimal("1000000000.0"))
                   + F.lit(Decimal("0.5"))).cast("bigint")


@query(
    "decision_stump_train",
    oracle=f"""
    WITH lab AS (
      SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                 AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    ranked AS (
      SELECT cents, y,
             ROW_NUMBER() OVER (ORDER BY cents, y) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM lab),
    cand AS (
      SELECT DISTINCT cents AS thr
      FROM ranked WHERE rk IN (
        SELECT (k * n) // 10
        FROM (SELECT DISTINCT n FROM ranked),
             unnest([1,2,3,4,5,6,7,8,9]) AS t(k))),
    stats AS (
      SELECT CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lab),
    split AS (
      SELECT c.thr, s.pos, s.n,
             CAST(SUM(CASE WHEN l.cents <= c.thr THEN 1 ELSE 0 END)
                  AS BIGINT) AS nl,
             CAST(SUM(CASE WHEN l.cents <= c.thr THEN l.y ELSE 0 END)
                  AS BIGINT) AS posl
      FROM cand c CROSS JOIN stats s
      JOIN lab l ON TRUE
      GROUP BY c.thr, s.pos, s.n),
    gain AS (
      SELECT thr, nl, n - nl AS nr, posl, pos - posl AS posr,
             {_GAIN_Q_SQL}
      FROM split WHERE nl > 0 AND nl < n),
    mx AS (SELECT *, MAX(gain_q) OVER () AS gmax FROM gain),
    sel AS (
      SELECT *, MIN(CASE WHEN gain_q = gmax THEN thr END) OVER ()
                 AS tbest
      FROM mx)
    SELECT thr AS threshold_cents, nl AS n_left, nr AS n_right,
           posl AS pos_left, posr AS pos_right,
           CAST(CAST(gain_q AS DOUBLE) / 1000000000.0 AS DOUBLE)
               AS gini_gain,
           gain_q = gmax AND thr = tbest AS is_best
    FROM sel
    """,
)
def decision_stump_train(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """An actually-trained model behind the exact gate: the best
    decision stump on order price for the finished/not-finished
    label — candidate thresholds at the nine decile boundaries
    (pure-integer order-statistic indexes (k*n)//10), Gini impurity
    reduction per candidate with exact integer class counts, gain
    quantized to a 1e-9 grid, and the argmax marked with a
    deterministic min-threshold tie-break. This is the inner loop of
    every tree ensemble, certified end to end.

    Scale (round 7): the decile cut's global rank is the bucketed
    two-phase `operators.rank.global_row_number` (literal percentile
    boundaries, per-bucket windows, broadcast offsets — no
    single-partition sort); n rides in as a 1-row broadcast scalar.
    The candidate x row pass is |rows| x 9 — at 100 TB the same plan
    pre-aggregates rows into (cents-bucket, y) cells first (the
    `histogram_bins` trick) making it |buckets| x 9. Nothing
    quadratic, nothing driver-side.
    """
    od = load(spark, sf_dir, "orders")
    lab = od.select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .alias("y"))
    stats = lab.agg(F.sum("y").cast("bigint").alias("pos"),
                    F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = (global_row_number(lab, [F.asc("cents"), F.asc("y")],
                                lead="cents", out="rk")
              .crossJoin(F.broadcast(stats.select("n"))))
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    # r14 census pin: cand is <= 9 rows but its subtree is the whole
    # bucketed two-phase rank (global_row_number's internal frame is
    # planned twice: offsets + join) — pinning here cuts the
    # before-plan's 6 orders scans to 3
    cand = pin(ranked.join(
        F.broadcast(ks),
        F.col("rk") == F.expr("(k * n) DIV 10"))
        .select(F.col("cents").alias("thr")).distinct(), eager=False)
    split = (F.broadcast(cand.crossJoin(stats))
             .join(lab, F.lit(True))
             .groupBy("thr", "pos", "n")
             .agg(F.sum(F.when(F.col("cents") <= F.col("thr"), 1)
                        .otherwise(0)).cast("bigint").alias("nl"),
                  F.sum(F.when(F.col("cents") <= F.col("thr"),
                               F.col("y")).otherwise(0))
                  .cast("bigint").alias("posl")))
    gain = (split.filter("nl > 0 AND nl < n")
            .withColumn("gain_q", _gini_gain_q()))
    wall = Window.partitionBy()
    staged = (gain
              .withColumn("gmax", F.max("gain_q").over(wall))
              .withColumn("tbest", F.min(
                  F.when(F.col("gain_q") == F.col("gmax"),
                         F.col("thr"))).over(wall)))
    return staged.select(
        F.col("thr").alias("threshold_cents"),
        F.col("nl").alias("n_left"),
        (F.col("n") - F.col("nl")).alias("n_right"),
        F.col("posl").alias("pos_left"),
        (F.col("pos") - F.col("posl")).alias("pos_right"),
        (F.col("gain_q").cast("double") / 1000000000.0)
        .alias("gini_gain"),
        ((F.col("gain_q") == F.col("gmax"))
         & (F.col("thr") == F.col("tbest"))).alias("is_best"))


# ---------------------------------------------------------------------------
# multinomial naive Bayes: train on the corpus, score every doc
# ---------------------------------------------------------------------------

@query(
    "naive_bayes_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST(list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> x <> '')) AS w
      FROM documents),
    cls AS (
      SELECT lang AS c, CAST(COUNT(DISTINCT doc_id) AS BIGINT)
                 AS n_docs
      FROM toks GROUP BY 1),
    prior AS (
      SELECT c, n_docs,
             CAST(SUM(n_docs) OVER () AS BIGINT) AS d_tot
      FROM cls),
    cw AS (
      SELECT lang AS c, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2),
    ctot AS (
      SELECT c, CAST(SUM(cnt) AS BIGINT) AS t_c
      FROM cw GROUP BY 1),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM toks),
    scored AS (
      SELECT t.doc_id, t.lang AS true_lang, p.c,
             CAST(SUM(COALESCE({_LNQ.format(v='cw.cnt + 1')}, 0)
                   - {_LNQ.format(v='ct.t_c + vb.v')}) AS BIGINT)
               + MAX({_LNQ.format(v='p.n_docs')}
                     - {_LNQ.format(v='p.d_tot')}) AS s_q
      FROM toks t
      CROSS JOIN prior p
      JOIN ctot ct ON ct.c = p.c
      CROSS JOIN vocab vb
      LEFT JOIN cw ON cw.c = p.c AND cw.w = t.w
      GROUP BY t.doc_id, t.lang, p.c),
    best AS (
      SELECT doc_id, true_lang, c AS pred_lang, s_q,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s_q DESC, c) AS rk
      FROM scored)
    SELECT doc_id, true_lang, pred_lang,
           CAST(CAST(s_q AS DOUBLE) / 1000000.0 AS DOUBLE)
               AS log_score,
           pred_lang = true_lang AS correct
    FROM best WHERE rk = 1
    """,
)
def naive_bayes_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained on the corpus (class = lang)
    and scored back over every document: add-1-smoothed
    class-conditional unigram likelihoods plus document-count
    priors, argmax over classes with a deterministic tie-break —
    train AND inference certified end to end (resubstitution scoring
    by design: the certificate is the arithmetic, not the
    generalization). Every log is a grid-quantized log of an exact
    integer: unseen (class, word) pairs contribute exactly
    -lnq(t_c + V) via the COALESCE(.., 0) on the hit term, so the
    smoothing mass is handled identically in both engines.

    Scale: training is two censuses (class-word counts, class
    totals); scoring fans each token out |classes| ways and joins
    the class-word table — the standard NB shape, linear in corpus
    x classes, map-side combinable everywhere, priors and vocab as
    1-row/|classes|-row broadcasts.
    """
    docs = load(spark, sf_dir, "documents")
    # r13: pin the token frame — it feeds five consumers (cls, cw,
    # vocab and the scoring fan), each of which otherwise re-plans
    # and re-runs the tokenize+explode (5 documents scans in the
    # r13-open plan)
    toks = pin(docs.select(
        "doc_id", "lang",
        F.explode(F.expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
        .alias("w")), eager=False)
    cls = toks.groupBy(F.col("lang").alias("c")).agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    prior = cls.withColumn(
        "d_tot", F.sum("n_docs").over(Window.partitionBy())
        .cast("bigint"))
    cw = (toks.groupBy(F.col("lang").alias("c"), "w")
          .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    ctot = cw.groupBy("c").agg(
        F.sum("cnt").cast("bigint").alias("t_c"))
    vocab = toks.agg(
        F.countDistinct("w").cast("bigint").alias("v"))
    fan = (toks
           .crossJoin(F.broadcast(
               prior.join(ctot, prior.c == ctot.c)
               .select(prior.c, "n_docs", "d_tot", "t_c")))
           .crossJoin(F.broadcast(vocab))
           .join(cw, ["c", "w"], "left"))
    scored = (fan.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "c")
        .agg((F.sum(F.expr(
            f"COALESCE({_LNQ.format(v='cnt + 1')}, 0)"
            f" - {_LNQ.format(v='t_c + v')}")).cast("bigint")
            + F.max(F.expr(
                f"{_LNQ.format(v='n_docs')}"
                f" - {_LNQ.format(v='d_tot')}")))
            .alias("s_q")))
    wdoc = Window.partitionBy("doc_id").orderBy(
        F.desc("s_q"), F.asc("c"))
    best = scored.withColumn("rk", F.row_number().over(wdoc))
    return (best.filter(F.col("rk") == 1)
            .select("doc_id", "true_lang",
                    F.col("c").alias("pred_lang"),
                    (F.col("s_q").cast("double") / 1000000.0)
                    .alias("log_score"),
                    (F.col("c") == F.col("true_lang"))
                    .alias("correct")))


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test
# ---------------------------------------------------------------------------

@query(
    "mann_whitney_u",
    oracle="""
    WITH samp AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 'hi' ELSE 'lo' END AS grp,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                 AS cents
      FROM orders),
    ranked AS (
      -- 2x the midrank is integral even under ties: sum of the
      -- tied block's first and last ordinal rank
      SELECT grp, cents,
             CAST(RANK() OVER (ORDER BY cents) AS BIGINT) AS r_lo,
             CAST(COUNT(*) OVER (PARTITION BY cents) AS BIGINT)
                 AS tie
      FROM samp),
    sums AS (
      SELECT CAST(SUM(CASE WHEN grp = 'hi'
                      THEN 2 * r_lo + tie - 1 ELSE 0 END) AS BIGINT)
                 AS r2_hi,
             CAST(SUM(CASE WHEN grp = 'hi' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 'lo' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM ranked)
    SELECT n1, n2,
           CAST(CAST(r2_hi - n1 * (n1 + 1) AS DOUBLE) / 2.0
                AS DOUBLE) AS u_stat,
           CAST(FLOOR((CAST(r2_hi - n1 * (n1 + 1) AS DOUBLE) / 2.0
                 - CAST(n1 AS DOUBLE) * n2 / 2.0)
                 / SQRT(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1)
                        / 12.0) * 1000000.0 + 0.5) / 1000000.0
                AS DOUBLE) AS z_score
    FROM sums
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do high-priority orders carry
    stochastically larger totals than low-priority ones? The
    nonparametric two-sample test `ks_test` (max CDF gap) and
    `abtest_ztest` (mean difference) do not give — robust to any
    monotone transform of the metric. Midranks under ties are kept
    integral by carrying 2x the midrank (first + last ordinal rank
    of the tied block = 2*rank + ties - 1), so the rank sum is an
    exact BIGINT; U and the normal-approximation z-score (IEEE sqrt
    on an identical double) follow in one quantized expression.

    Scale (round 7): no per-row rank at all — a rank-sum only needs
    DISTINCT-value cumulative counts. One (cents)-census groupBy
    collapses ties (|support| rows), the bucketed two-phase prefix
    sum (`operators.rank.grouped_prefix_sum`) ranks the support in
    parallel, and every tied block contributes hi * (2*r_lo + tie -
    1) in closed form. No per-pair work (the naive U definition is
    quadratic; the rank-sum identity makes it a census instead), no
    single-partition window.
    """
    od = load(spark, sf_dir, "orders")
    samp = od.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
               "hi").otherwise("lo").alias("grp"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint").alias("cents"))
    per = samp.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("tie"),
        F.sum(F.when(F.col("grp") == "hi", 1).otherwise(0))
        .cast("bigint").alias("hi"))
    # r14: measured pin=True here and REVERTED (0.95x over 9
    # interleaved iterations) — the cents census is one cheap
    # map-side-combined aggregation, so materializing it costs more
    # than the duplicate plan it saves (the r13 chi2 lesson; contrast
    # ks_test, where the same pin wins because its census subtree is
    # bigger and a second consumer chain hangs off the result)
    cum = grouped_prefix_sum(per, [], [F.asc("cents")],
                             lead="cents", sums={"cum": "tie"})
    # r_lo (min ordinal rank of the tied block) = cum - tie + 1
    sums = cum.agg(
        F.sum(F.col("hi") * (2 * (F.col("cum") - F.col("tie") + 1)
                             + F.col("tie") - 1))
        .cast("bigint").alias("r2_hi"),
        F.sum("hi").cast("bigint").alias("n1"),
        F.sum(F.col("tie") - F.col("hi")).cast("bigint").alias("n2"))
    return sums.select(
        "n1", "n2",
        F.expr("CAST(CAST(r2_hi - n1 * (n1 + 1) AS DOUBLE) / 2.0"
               " AS DOUBLE)").alias("u_stat"),
        F.expr("CAST(FLOOR((CAST(r2_hi - n1 * (n1 + 1) AS DOUBLE)"
               " / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0)"
               " / SQRT(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1)"
               " / 12.0) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0")
        .alias("z_score"))
