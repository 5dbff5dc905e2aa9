"""Tier-36 queries: contrastive dataset construction, heavy-tail
diagnostics, and model-lift evaluation — the round-6 closer.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup). `negative_sampling` builds
the (anchor, positive, negatives...) triplets contrastive embedding
training runs on — deterministic hash-ranked negatives so the oracle
is exact; `tail_index_hill` is the Hill estimator of the revenue
tail exponent (is this distribution Pareto-heavy? decides sampling
and capping strategy upstream); `decile_lift` is the gains table
every scored model ships with (response rate and cumulative lift by
score decile).

Exactness: hash ranks, order statistics, and decile indexes are
pure integer arithmetic; Hill's log terms quantize per order
statistic on the 1e-6 grid; lift ratios use the FLOOR idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rank import global_row_number, grouped_prefix_sum
from ..session import local_frame, pin
from .registry import query

_LNQ = ("CAST(FLOOR(LN(CAST({v} AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)")

# negative_sampling: expected candidates kept per anchor by the
# hash-range cut (margin over the 2 actually used; starved anchors
# fall back to the exact uncut set)
_NEG_TARGET = 128


# ---------------------------------------------------------------------------
# deterministic negative sampling for contrastive training
# ---------------------------------------------------------------------------

@query(
    "negative_sampling",
    oracle="""
    WITH docs2 AS (
      SELECT doc_id, lang,
             (doc_id * 2654435761) % 2147483648 AS h
      FROM documents),
    anchors AS (
      SELECT doc_id AS anchor_id, lang, h
      FROM docs2 WHERE doc_id % 50 = 0),
    pos AS (
      -- positive: the same-language doc with the nearest LARGER
      -- hash (wrap-free; anchors without one are dropped)
      SELECT a.anchor_id, a.lang,
             MIN(d.h) AS pos_h
      FROM anchors a JOIN docs2 d
        ON d.lang = a.lang AND d.h > a.h
      GROUP BY a.anchor_id, a.lang),
    posid AS (
      SELECT p.anchor_id, p.lang, d.doc_id AS positive_id
      FROM pos p JOIN docs2 d
        ON d.lang = p.lang AND d.h = p.pos_h),
    negc AS (
      -- negatives: OTHER-language docs ranked by a mixed hash of
      -- (anchor, candidate); take the 2 smallest
      SELECT a.anchor_id, a.lang, d.doc_id AS neg_id,
             (a.anchor_id * 40503 + d.doc_id * 65537) % 1048576
                 AS mh
      FROM anchors a JOIN docs2 d ON d.lang <> a.lang),
    negr AS (
      SELECT anchor_id, lang, neg_id,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY mh, neg_id) AS rk
      FROM negc)
    SELECT p.anchor_id, p.lang, p.positive_id,
           MAX(CASE WHEN n.rk = 1 THEN n.neg_id END) AS neg1_id,
           MAX(CASE WHEN n.rk = 2 THEN n.neg_id END) AS neg2_id
    FROM posid p JOIN negr n ON n.anchor_id = p.anchor_id
    WHERE n.rk <= 2
    GROUP BY p.anchor_id, p.lang, p.positive_id
    """,
)
def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets over the corpus: every 50th
    document anchors a (positive, negative, negative) row — the
    positive is the same-language doc with the nearest larger
    deterministic hash (a stand-in for "nearest neighbor" that keeps
    the oracle exact), the two negatives are other-language docs
    ranked by a mixed hash of (anchor, candidate) so each anchor
    draws DIFFERENT pseudo-random negatives, reproducibly. This is
    the dataset-construction step under every embedding/contrastive
    fine-tune; swapping the hash ranks for ANN ranks (`embedding_knn`
    / `ann_ivf_knn`) upgrades it to hard-negative mining with the
    same plan.

    Scale (round-8 re-plan — the hash-range cut the round-7 verdict
    demanded, shipped as an EQUI-join, exact by construction):

    * negatives: `mh = (a*40503 + c*65537) % 2^20` separates into
      `(ah2 + ch2) % 2^20` with `ah2 = a*40503 % 2^20`,
      `ch2 = c*65537 % 2^20`, so `mh < T` is a wrapped INTERVAL
      condition on the candidate-only value ch2. With T a power of
      two, bucketing candidates by `ch2 div T` turns the cut into a
      hash EQUI-join: each anchor probes at most the 2 buckets its
      interval [(−ah2) mod 2^20, +T) overlaps, so the per-anchor
      candidate set is ~|docs|·T/2^20 rows (T is sized from one
      count() so that stays ≈ _NEG_TARGET regardless of corpus
      size) instead of the whole other-language corpus. Because the
      top-2 ranks ascend in mh, any anchor with ≥2 candidates under
      the cut has its EXACT global top-2 inside the cut; the rare
      starved anchor (corpus nearly monolingual, tiny fixtures)
      falls back to all buckets via the same equi-join — no
      nested-loop join anywhere in the plan.
    * positives (nearest LARGER same-lang hash — quadratic as a
      naive join) become a strictly-preceding running MIN over the
      (docs ∪ anchors) stream ordered by hash DESC per language, on
      the bucketed two-phase prefix engine (operators/rank.py), then
      one equi-join on (lang, pos_h) to recover the doc id.
    """
    docs = load(spark, sf_dir, "documents")
    # r13 pin: d2 feeds anchors, candidates and the positives union
    # (15 documents scans in the r13-open plan, all of this 3-column
    # projection)
    d2 = pin(docs.select(
        "doc_id", "lang",
        F.expr("(doc_id * 2654435761) % 2147483648").alias("h")), eager=False)
    anchors = (d2.filter(F.col("doc_id") % 50 == 0)
               .select(F.col("doc_id").alias("anchor_id"),
                       "lang", "h"))
    other = d2.select(F.col("doc_id").alias("cand_id"),
                      F.col("lang").alias("clang"),
                      F.col("h").alias("ch"))

    # -- positives: per-language running min of doc hashes, h DESC --
    # kind 0 = anchor, 1 = doc; at equal h the anchor sorts FIRST so
    # a doc with the same hash never counts as "strictly larger".
    uni = (d2.select("lang", "h", F.lit(1).alias("kind"),
                     F.col("h").alias("dh"),
                     F.lit(None).cast("bigint").alias("anchor_id"))
           .unionByName(anchors.select(
               "lang", "h", F.lit(0).alias("kind"),
               F.lit(None).cast("bigint").alias("dh"), "anchor_id")))
    pref = grouped_prefix_sum(
        uni, ["lang"], [F.desc("h"), F.asc("kind")], lead="h",
        ascending=False, sums={"pos_h": ("dh", "min")},
        inclusive=False)
    pos = (pref.filter(F.col("kind") == 0)
           .select("anchor_id", "lang", "pos_h"))
    posid = (pos.join(other, (F.col("clang") == F.col("lang"))
                      & (F.col("ch") == F.col("pos_h")))
             .select("anchor_id", "lang",
                     F.col("cand_id").alias("positive_id")))

    # -- negatives: hash-range cut as a bucket equi-join ------------
    m = 1 << 20
    n_docs = docs.count()  # one metadata-sized aggregate, sizes T
    tw = 4
    while tw < m and n_docs * tw < _NEG_TARGET * m:
        tw *= 2
    nb = m // tw
    cand = other.withColumn(
        "cb", F.expr(f"CAST(((cand_id * 65537) % {m}) DIV {tw}"
                     " AS INT)"))
    anc = (anchors.select(
        "anchor_id", "lang",
        F.expr(f"({m} - (anchor_id * 40503) % {m}) % {m}")
        .alias("_lo"))
        .select("anchor_id", "lang", F.explode(F.array_distinct(
            F.array(F.expr(f"CAST(_lo DIV {tw} AS INT)"),
                    F.expr(f"CAST(((_lo + {tw - 1}) % {m}) DIV {tw}"
                           " AS INT)")))).alias("cb")))
    mh = F.expr(f"(anchor_id * 40503 + cand_id * 65537) % {m}")
    negf = (anc.join(cand, "cb")
            .filter(F.col("clang") != F.col("lang"))
            .select("anchor_id", "lang",
                    F.col("cand_id").alias("neg_id"), mh.alias("mh"))
            .filter(F.col("mh") < tw))
    # anchors whose cut kept <2 candidates re-probe ALL buckets (the
    # exact uncut set) — empty in practice, still an equi-join
    ok = (negf.groupBy("anchor_id").count()
          .filter(F.col("count") >= 2).select("anchor_id"))
    starved = anchors.join(ok, "anchor_id", "left_anti")
    negfb = (starved.select(
        "anchor_id", "lang",
        F.explode(F.sequence(F.lit(0).cast("int"),
                             F.lit(nb - 1).cast("int"))).alias("cb"))
        .join(cand, "cb")
        .filter(F.col("clang") != F.col("lang"))
        .select("anchor_id", "lang",
                F.col("cand_id").alias("neg_id"), mh.alias("mh")))
    negc = (negf.join(ok, "anchor_id", "semi")
            .unionByName(negfb))
    negr = negc.withColumn("rk", F.row_number().over(
        Window.partitionBy("anchor_id")
        .orderBy(F.asc("mh"), F.asc("neg_id"))))
    return (posid.join(negr.filter(F.col("rk") <= 2), "anchor_id")
            .groupBy("anchor_id", posid.lang, "positive_id")
            .agg(F.max(F.when(F.col("rk") == 1, F.col("neg_id")))
                 .alias("neg1_id"),
                 F.max(F.when(F.col("rk") == 2, F.col("neg_id")))
                 .alias("neg2_id")))


# ---------------------------------------------------------------------------
# Hill estimator of the revenue tail index
# ---------------------------------------------------------------------------

@query(
    "tail_index_hill",
    oracle=f"""
    WITH v AS (
      SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                 AS cents
      FROM orders),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC) AS rk
      FROM v),
    ks AS (SELECT UNNEST([100, 200, 400]) AS k),
    kth AS (
      SELECT ks.k, r.cents AS x_k
      FROM ks JOIN ranked r ON r.rk = ks.k + 1),
    terms AS (
      SELECT kth.k, kth.x_k,
             {_LNQ.format(v='r.cents')}
               - {_LNQ.format(v='kth.x_k')} AS t_q
      FROM kth JOIN ranked r ON r.rk <= kth.k)
    SELECT k,
           CAST(x_k AS BIGINT) AS xk_cents,
           CAST(FLOOR(CAST(k AS DOUBLE) * 1000000.0
                 / CAST(SUM(t_q) AS DOUBLE) * 1000000.0 + 0.5)
                 / 1000000.0 AS DOUBLE) AS hill_alpha
    FROM terms GROUP BY k, x_k
    """,
)
def tail_index_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-total tail index at k = 100, 200,
    400 top order statistics: alpha-hat = k / sum ln(x_(i)/x_(k+1))
    — THE diagnostic for "is this metric Pareto-heavy-tailed"
    (alpha < 2 = infinite variance: cap before averaging; stable
    alpha across k = genuine power law). Each log ratio is a
    difference of grid-quantized logs of exact integer cents, so the
    sum is an exact BIGINT and alpha one quantized division; showing
    three k values is the standard Hill-plot stability check.

    Scale (round 7): only ranks <= 401 are ever consumed, so the
    plan takes the top 401 rows FIRST — `orderBy(desc).limit(401)`
    is Spark's TakeOrderedAndProject, a per-partition top-k + one
    401-row driver merge, never a global sort — and ranks the
    401-row frame (the one remaining unpartitioned window runs over
    a provably tiny limit output). Boundary ties are safe: rank>401
    rows are never read, and tied rows carry equal `cents`.
    """
    od = load(spark, sf_dir, "orders")
    v = od.select(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                  .cast("bigint").alias("cents"))
    top = v.orderBy(F.desc("cents")).limit(401)
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("cents"))))
    ks = local_frame(spark, [(100,), (200,), (400,)], "k long")
    kth = (F.broadcast(ks)
           .join(ranked, F.col("rk") == F.col("k") + 1)
           .select("k", F.col("cents").alias("x_k")))
    terms = (F.broadcast(kth)
             .join(ranked.select(F.col("cents").alias("ci"),
                                 F.col("rk").alias("ri")),
                   F.col("ri") <= F.col("k"))
             .select("k", "x_k", F.expr(
                 f"{_LNQ.format(v='ci')}"
                 f" - {_LNQ.format(v='x_k')}").alias("t_q")))
    return (terms.groupBy("k", "x_k")
            .agg(F.expr("CAST(FLOOR(CAST(k AS DOUBLE) * 1000000.0"
                        " / CAST(SUM(t_q) AS DOUBLE) * 1000000.0"
                        " + 0.5) AS DOUBLE) / 1000000.0")
                 .alias("hill_alpha"))
            .select("k", F.col("x_k").cast("bigint")
                    .alias("xk_cents"), "hill_alpha"))


# ---------------------------------------------------------------------------
# decile lift / gains table for a scored model
# ---------------------------------------------------------------------------

@query(
    "decile_lift",
    oracle="""
    WITH scored AS (
      -- score = the tier-30 stump's signal (price), response =
      -- the finished flag; the lift table is model-agnostic
      SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                 AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             o_orderkey AS k
      FROM orders),
    ranked AS (
      SELECT y,
             ROW_NUMBER() OVER (ORDER BY score DESC, k) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(y) OVER () AS BIGINT) AS pos
      FROM scored),
    dec AS (
      SELECT ((rk - 1) * 10) // n + 1 AS decile, y, n, pos
      FROM ranked),
    agg AS (
      SELECT decile, MAX(n) AS n, MAX(pos) AS pos,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM dec GROUP BY decile)
    SELECT decile, n_rows, n_pos,
           CAST(FLOOR(CAST(n_pos AS DOUBLE) * 1000000.0 / n_rows
                 + 0.5) / 1000000.0 AS DOUBLE) AS response_rate,
           CAST(FLOOR((CAST(SUM(n_pos) OVER w AS DOUBLE)
                 / SUM(n_rows) OVER w)
                 / (CAST(pos AS DOUBLE) / n) * 1000000.0 + 0.5)
                 / 1000000.0 AS DOUBLE) AS cum_lift
    FROM agg
    WINDOW w AS (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table for a scored population (score =
    order total, response = finished flag — the table is
    model-agnostic and this wiring certifies the machinery): rows
    ranked by score, cut into 10 integer-exact deciles, each with
    its response rate and the CUMULATIVE lift (top-d-deciles
    response over the base rate) — the first chart every scored
    model review opens with (`auc_metric` summarizes it to one
    number; the lift table shows WHERE the model earns it).

    Scale (round 7): the global rank is the bucketed two-phase
    `operators.rank.global_row_number` (literal percentile
    boundaries, per-bucket windows, broadcast offsets — no
    single-partition sort); n/pos arrive as a 1-row broadcast
    scalar attach; then integer decile assignment, a 10-row
    aggregate and one window over those 10 rows.
    """
    od = load(spark, sf_dir, "orders")
    scored = od.select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .alias("y"),
        F.col("o_orderkey").alias("k"))
    stats = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"))
    ranked = (global_row_number(scored,
                                [F.desc("score"), F.asc("k")],
                                lead="score", ascending=False,
                                out="rk")
              .crossJoin(F.broadcast(stats)))  # 1-row scalar attach
    dec = ranked.select(
        F.expr("((rk - 1) * 10) DIV n + 1").alias("decile"),
        "y", "n", "pos")
    agg = (dec.groupBy("decile")
           .agg(F.max("n").alias("n"), F.max("pos").alias("pos"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("y").cast("bigint").alias("n_pos")))
    wcum = (Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    staged = (agg
              .withColumn("cpos", F.sum("n_pos").over(wcum)
                          .cast("bigint"))
              .withColumn("crow", F.sum("n_rows").over(wcum)
                          .cast("bigint")))
    return staged.select(
        "decile", "n_rows", "n_pos",
        F.expr("CAST(FLOOR(CAST(n_pos AS DOUBLE) * 1000000.0"
               " / n_rows + 0.5) AS DOUBLE) / 1000000.0")
        .alias("response_rate"),
        F.expr("CAST(FLOOR((CAST(cpos AS DOUBLE) / crow)"
               " / (CAST(pos AS DOUBLE) / n) * 1000000.0 + 0.5)"
               " AS DOUBLE) / 1000000.0").alias("cum_lift"))
