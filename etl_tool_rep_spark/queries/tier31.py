"""Tier-31 queries: distributed linear algebra and learning loops
behind the exact oracle gate.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup). The tier-20/22 program
proved iterative algorithms can be certified exactly by quantizing
the state between rounds (pagerank, k-means, Bellman-Ford); this
tier extends that discipline to linear algebra proper: one-component
PCA via unrolled power iteration on an INTEGER Gram matrix, HITS
hub/authority scores on the bipartite supplier-part graph (a second
spectral algebra next to PageRank's), a batch perceptron whose
weights stay exact integers end to end, and reciprocal-rank fusion
(the standard way two retrieval stacks are combined).

Exactness strategy: quantize INPUTS once onto an integer grid (a
1e6 embedding grid, integer cents), then keep every iteration in
pure integer arithmetic — matrix-vector products are exact BIGINTs,
and per-round rescaling divides by the round's max |component|
(an integer, deterministically selected) instead of an L2 norm, so
NO float enters any loop. Only the final report converts to doubles
via the house FLOOR idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import hold, pin
from .registry import query

_PCA_ROUNDS = 6
# level-1 salt fan-out for the Gram sum (sized for <= ~3e8
# embeddings, see the comment in pca_top_component)
_GRAM_SALTS = 32
_HITS_ROUNDS = 4
_PERC_ROUNDS = 4


# ---------------------------------------------------------------------------
# one-component PCA: integer Gram matrix + unrolled power iteration
# ---------------------------------------------------------------------------

def _pca_oracle() -> str:
    rounds = []
    prev = "v0"
    for r in range(1, _PCA_ROUNDS + 1):
        rounds.append(f"""
    u{r} AS MATERIALIZED (
      SELECT g.i, CAST(SUM(g.g * v.vq) AS HUGEINT) AS u
      FROM gram g JOIN {prev} v ON v.j = g.j
      GROUP BY g.i),
    v{r} AS MATERIALIZED (
      SELECT i AS j,
             CAST(u * 1000000 // (SELECT MAX(ABS(u)) FROM u{r})
                  AS BIGINT) AS vq
      FROM u{r})""")
        prev = f"v{r}"
    return f"""
    WITH el AS MATERIALIZED (
      SELECT vec_id, r.i AS i,
             CAST(FLOOR(CAST(embedding[r.i + 1] AS DOUBLE)
                   * 1000000.0 + 0.5) AS BIGINT) AS xq
      FROM embeddings,
           unnest(range(0, len(embedding))) AS r(i)),
    gram AS MATERIALIZED (
      SELECT a.i, b.i AS j,
             CAST(SUM(CAST(a.xq AS HUGEINT) * b.xq) AS HUGEINT)
                 AS g
      FROM el a JOIN el b ON b.vec_id = a.vec_id
      GROUP BY a.i, b.i),
    v0 AS (SELECT DISTINCT i AS j, CAST(1000000 AS BIGINT) AS vq
           FROM gram),
    {','.join(rounds)},
    num AS (
      SELECT CAST(SUM(g.g * a.vq * b.vq) AS HUGEINT) AS vgv
      FROM gram g
      JOIN {prev} a ON a.j = g.i
      JOIN {prev} b ON b.j = g.j),
    den AS (
      SELECT CAST(SUM(CAST(vq AS HUGEINT) * vq) AS HUGEINT) AS vv
      FROM {prev})
    SELECT v.j AS dim,
           CAST(CAST(v.vq AS DOUBLE) / 1000000.0 AS DOUBLE)
               AS loading,
           CAST(FLOOR(CAST(num.vgv AS DOUBLE)
                 / CAST(den.vv AS DOUBLE) / 1000000000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE)
               AS rayleigh
    FROM {prev} v CROSS JOIN num CROSS JOIN den
    """


@query("pca_top_component", oracle=_pca_oracle())
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding table (uncentered /
    second-moment PCA) via 6 unrolled power-iteration rounds on an
    integer Gram matrix: embeddings quantize ONCE onto a 1e6 grid,
    the 64x64 Gram is an exact integer census, and each round's
    matrix-vector product is exact integer arithmetic rescaled by
    the round's max |component| — no float ever enters the loop, so
    both engines walk identical orbits. Output: the 64 loadings and
    the Rayleigh quotient v'Gv/v'v (the top eigenvalue estimate, in
    squared-embedding units) — the "which direction dominates my
    embedding space" diagnostic behind drift detection and PCA
    whitening.

    Scale: the Gram census is the only corpus-sized stage — one scan
    emitting d^2 products per row, map-side combinable to a d x d
    table (d=64 -> 4096 cells) regardless of corpus size; the
    iteration is dimension-sized joins. At 100 TB this is exactly
    how distributed PCA is built (computeGramianMatrix in Spark
    MLlib does the same); HUGEINT/DECIMAL carriers on the oracle
    side, DECIMAL(38,0) on the Spark side where products exceed
    BIGINT.
    """
    emb = load(spark, sf_dir, "embeddings")
    el = (emb.select(
        "vec_id",
        F.posexplode("embedding").alias("i", "v"))
        .select("vec_id", "i",
                F.floor(F.col("v").cast("double") * 1000000.0 + 0.5)
                .cast("bigint").alias("xq")))
    a, b = el.alias("a"), el.alias("b")
    # r13 salted two-level Gram sum (the q1 pattern, guide §2.5):
    # with d=64 the census collapses onto 4096 cells, so every
    # d^2-per-row product funnelled into a handful of decimal(38,0)
    # buffers — the BigDecimal update dominated the corpus-sized
    # stage. Level 1 sums LONGs per (i, j, salt): |xq| <= ~1e6-scale
    # => product <= ~1e12, so a partial stays < 2^63 up to ~9e6 rows
    # per (cell, salt) — ~3e8 embeddings at 32 salts. Level 2 sums the
    # d^2 x salts long partials into the same decimal(38,0) —
    # identical value (interleaved A/B at sf0.1: 5.21 -> 3.07 s).
    # Salt kept SMALL on purpose: it multiplies the level-1 group
    # space; a 1024-salt attempt blew the map-side hash to 4M groups
    # and regressed.
    salt = F.pmod(F.xxhash64(F.col("a.vec_id")), F.lit(_GRAM_SALTS))
    # d x d cells whatever the corpus size: held, so every join of
    # the loop broadcasts by size
    gram = hold(a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
                .groupBy(F.col("a.i").alias("i"),
                         F.col("b.i").alias("j"), salt.alias("_salt"))
                .agg(F.sum(F.col("a.xq") * F.col("b.xq")).alias("pg"))
                .groupBy("i", "j")
                .agg(F.sum(F.col("pg").cast("decimal(38,0)")).alias("g")))
    v = gram.select("i").distinct().select(
        F.col("i").alias("j"),
        F.lit(1000000).cast("bigint").alias("vq"))
    for _ in range(_PCA_ROUNDS):
        # pin u lazily: it feeds both the max and the rescale, and
        # v's hold writes it; held instead, the key ran 47 jobs at
        # sf0.1 against 41
        u = pin(gram.join(v, "j")
                .groupBy("i")
                .agg(F.sum(F.col("g") * F.col("vq")).alias("u")),
                eager=False)
        mx = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        v = hold(u.crossJoin(F.broadcast(mx))
                 .select(F.col("i").alias("j"),
                         F.expr("CAST(u * 1000000 DIV m AS BIGINT)")
                         .alias("vq")))
    num = (gram
           .join(v.select(F.col("j").alias("i"), F.col("vq").alias("va")),
                 "i")
           .join(v.select("j", F.col("vq").alias("vb")), "j")
           .agg(F.sum(F.col("g") * F.col("va") * F.col("vb"))
                .alias("vgv")))
    den = v.agg(F.sum(F.col("vq").cast("decimal(38,0)")
                      * F.col("vq")).alias("vv"))
    return (v.crossJoin(F.broadcast(num)).crossJoin(F.broadcast(den))
            .select(
                F.col("j").alias("dim"),
                (F.col("vq").cast("double") / 1000000.0)
                .alias("loading"),
                F.expr("CAST(FLOOR(CAST(vgv AS DOUBLE)"
                       " / CAST(vv AS DOUBLE) / 1000000000000.0"
                       " * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0")
                .alias("rayleigh")))


# ---------------------------------------------------------------------------
# HITS hubs & authorities on the bipartite supplier-part graph
# ---------------------------------------------------------------------------

def _hits_oracle() -> str:
    rounds = []
    ph, pa = "h0", None
    for r in range(1, _HITS_ROUNDS + 1):
        rounds.append(f"""
    ar{r} AS MATERIALIZED (
      SELECT e.p, CAST(SUM(h.hq) AS HUGEINT) AS s
      FROM edges e JOIN {ph} h ON h.s = e.s GROUP BY e.p),
    a{r} AS MATERIALIZED (
      SELECT p, CAST(s * 1000000 // (SELECT MAX(s) FROM ar{r})
                     AS BIGINT) AS aq
      FROM ar{r}),
    hr{r} AS MATERIALIZED (
      SELECT e.s, CAST(SUM(a.aq) AS HUGEINT) AS t
      FROM edges e JOIN a{r} a ON a.p = e.p GROUP BY e.s),
    h{r} AS MATERIALIZED (
      SELECT s, CAST(t * 1000000 // (SELECT MAX(t) FROM hr{r})
                     AS BIGINT) AS hq
      FROM hr{r})""")
        ph, pa = f"h{r}", f"a{r}"
    return f"""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p
      FROM lineitem),
    h0 AS (SELECT DISTINCT s, CAST(1000000 AS BIGINT) AS hq
           FROM edges),
    {','.join(rounds)}
    SELECT h.s AS suppkey,
           CAST(CAST(h.hq AS DOUBLE) / 1000000.0 AS DOUBLE)
               AS hub_score,
           CAST(d.deg AS BIGINT) AS out_degree
    FROM {ph} h
    JOIN (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg
          FROM edges GROUP BY 1) d ON d.s = h.s
    """


@query("hits_scores", oracle=_hits_oracle())
def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub scores of suppliers over the bipartite supplier ->
    part graph (4 unrolled rounds): authority(part) = sum of hub
    scores of its suppliers, hub(supplier) = sum of authorities of
    its parts, each side rescaled by its round max — Kleinberg's
    second spectral ranking next to PageRank's, distinguishing
    "supplies many well-covered parts" from raw degree. Same
    exactness discipline as `pagerank_exact`: integer state, integer
    rescale (max is deterministically unique as an integer), no
    float in the loop.

    Scale: each half-round is one edge-list equi-join + map-side-
    combinable sum — two shuffles per round over the distinct edge
    list, score vectors are node-sized and held on the driver
    (``session.hold``). The edge build is one DISTINCT over a 2-column
    projection. At 100 TB: identical plan, AQE handles hub skew; the
    edge pin's durability follows session.pin.
    """
    li = load(spark, sf_dir, "lineitem")
    edges = pin(li.select(F.col("l_suppkey").alias("s"),
                          F.col("l_partkey").alias("p"))
                .distinct())
    h = edges.select("s").distinct().withColumn(
        "hq", F.lit(1000000).cast("bigint"))
    for _ in range(_HITS_ROUNDS):
        ar = (edges.join(h, "s")
              .groupBy("p")
              .agg(F.sum(F.col("hq").cast("decimal(38,0)"))
                   .alias("sa")))
        amx = ar.agg(F.max("sa").alias("m"))
        aa = (ar.crossJoin(F.broadcast(amx))
              .select("p", F.expr("CAST(sa * 1000000 DIV m"
                                  " AS BIGINT)").alias("aq")))
        hr = (edges.join(aa, "p")
              .groupBy("s")
              .agg(F.sum(F.col("aq").cast("decimal(38,0)"))
                   .alias("t")))
        hmx = hr.agg(F.max("t").alias("m"))
        h = hold(hr.crossJoin(F.broadcast(hmx))
                 .select("s", F.expr("CAST(t * 1000000 DIV m AS BIGINT)")
                         .alias("hq")))
    deg = edges.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("out_degree"))
    return (h.join(deg, "s")
            .select(F.col("s").alias("suppkey"),
                    (F.col("hq").cast("double") / 1000000.0)
                    .alias("hub_score"),
                    "out_degree"))


# ---------------------------------------------------------------------------
# batch perceptron: integer weights end to end
# ---------------------------------------------------------------------------

def _perc_oracle() -> str:
    rounds = []
    prev = "w0"
    for r in range(1, _PERC_ROUNDS + 1):
        rounds.append(f"""
    w{r} AS MATERIALIZED (
      SELECT w.w1 + COALESCE(g.g1, 0) AS w1,
             w.w2 + COALESCE(g.g2, 0) AS w2,
             w.w0 + COALESCE(g.g0, 0) AS w0
      FROM {prev} w LEFT JOIN (
        SELECT CAST(SUM(y * x1) AS BIGINT) AS g1,
               CAST(SUM(y * x2) AS BIGINT) AS g2,
               CAST(SUM(y) AS BIGINT) AS g0
        FROM feats f, {prev} w
        WHERE y * (w.w1 * x1 + w.w2 * x2 + w.w0) <= 0) g ON TRUE)""")
        prev = f"w{r}"
    return f"""
    WITH feats AS MATERIALIZED (
      SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                 // 100000 AS x1,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) % 7 AS x2,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE -1 END AS y
      FROM orders),
    w0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
                  CAST(0 AS BIGINT) AS w0),
    {','.join(rounds)},
    acc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN y * (w.w1 * x1 + w.w2 * x2 + w.w0)
                           > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct
      FROM feats f, {prev} w)
    SELECT w.w1, w.w2, w.w0, acc.n, acc.n_correct,
           CAST(FLOOR(CAST(acc.n_correct AS DOUBLE) * 1000000.0
                 / acc.n + 0.5) / 1000000.0 AS DOUBLE) AS accuracy
    FROM {prev} w CROSS JOIN acc
    """


@query("perceptron_train", oracle=_perc_oracle())
def perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch perceptron on two integer features (price in
    hundred-dollar units, order day-of-week) for the finished /
    not-finished label, 4 unrolled epochs: each epoch adds the sum
    of y*x over currently-misclassified rows to the weights — every
    weight, margin, and update is an exact BIGINT, so this is a
    trained linear model with NO quantization step at all (the
    integer-native analogue of `bellman_ford_exact`'s min-plus
    claim, for learning loops). Output: final weights and training
    accuracy.

    Scale: each epoch is one scan computing margins against 3
    broadcast scalars plus one map-side-combinable 3-number
    aggregate — epochs x one-pass, the textbook distributed batch
    shape (mini-batching and feature widening change constants, not
    the plan).
    """
    od = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    feats = pin(od.select(
        F.expr("CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)"
               " DIV 100000").alias("x1"),
        (F.datediff(F.col("o_orderdate").cast("date"), epoch) % 7)
        .cast("bigint").alias("x2"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(-1)
        .cast("bigint").alias("y")))
    # range(1)-rooted weights: createDataFrame would plant an opaque
    # LogicalRDD at the root of every epoch's weight frame; Range(1)
    # gives the explain-audit propagator a STRUCTURAL 1-row bound that
    # composes through the unrolled epochs (round-8 verdict item #3)
    w = spark.range(1).select(F.lit(0).cast("bigint").alias("w1"),
                              F.lit(0).cast("bigint").alias("w2"),
                              F.lit(0).cast("bigint").alias("w0"))
    for _ in range(_PERC_ROUNDS):
        g = (feats.crossJoin(F.broadcast(w))
             .filter("y * (w1 * x1 + w2 * x2 + w0) <= 0")
             .agg(F.coalesce(F.sum(F.col("y") * F.col("x1")),
                             F.lit(0)).cast("bigint").alias("g1"),
                  F.coalesce(F.sum(F.col("y") * F.col("x2")),
                             F.lit(0)).cast("bigint").alias("g2"),
                  F.coalesce(F.sum("y"), F.lit(0)).cast("bigint")
                  .alias("g0")))
        w = (w.crossJoin(F.broadcast(g))
             .select((F.col("w1") + F.col("g1")).alias("w1"),
                     (F.col("w2") + F.col("g2")).alias("w2"),
                     (F.col("w0") + F.col("g0")).alias("w0")))
    acc = (feats.crossJoin(F.broadcast(w))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.when(
                    F.expr("y * (w1 * x1 + w2 * x2 + w0) > 0"), 1)
                    .otherwise(0)).cast("bigint").alias("n_correct")))
    return (w.crossJoin(F.broadcast(acc))
            .select("w1", "w2", "w0", "n", "n_correct",
                    F.expr("CAST(FLOOR(CAST(n_correct AS DOUBLE)"
                           " * 1000000.0 / n + 0.5) AS DOUBLE)"
                           " / 1000000.0").alias("accuracy")))


# ---------------------------------------------------------------------------
# reciprocal-rank fusion of two retrieval orderings
# ---------------------------------------------------------------------------

@query(
    "rrf_fusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
             len(list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> x <> '')) AS n_tok
      FROM documents),
    r1 AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id)
                 AS rk
      FROM toks),
    r2 AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_tok DESC, doc_id) AS rk
      FROM toks),
    fused AS (
      SELECT r1.doc_id, r1.lang,
             CAST(1000000 // (60 + r1.rk)
                  + 1000000 // (60 + r2.rk) AS BIGINT) AS rrf_q,
             r1.rk AS rank_chars, r2.rk AS rank_tokens
      FROM r1 JOIN r2 ON r2.doc_id = r1.doc_id),
    top AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY rrf_q DESC, doc_id)
                 AS fused_rank
      FROM fused)
    SELECT lang, fused_rank, doc_id, rank_chars, rank_tokens,
           CAST(CAST(rrf_q AS DOUBLE) / 1000000.0 AS DOUBLE)
               AS rrf_score
    FROM top WHERE fused_rank <= 10
    """,
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval orderings per
    language (by characters and by token count — stand-ins for any
    two rankers, e.g. BM25 and embedding cosine): RRF score =
    sum over rankers of 1/(60 + rank), the zero-tuning standard for
    combining heterogeneous rankers. The 1/(60+r) terms ride as
    integer floor(1e6/(60+r)) — integer division both engines — so
    fused scores and the fused top-10 tie-break are exact.

    Scale: two windowed ranks over per-group projections and one
    doc-level equi-join — rankers are usually top-k lists, making
    the join k-sized per query; here it fuses full orderings to keep
    the certificate total.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", "n_chars",
        F.expr("size(filter(split(lower(text), '[^a-z]+'),"
               " x -> x <> ''))").alias("n_tok"))
    r1 = toks.select(
        "doc_id", "lang",
        F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rank_chars"))
    r2 = toks.select(
        F.col("doc_id").alias("d2"),
        F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.desc("n_tok"), F.asc("doc_id")))
        .alias("rank_tokens"))
    fused = (r1.join(r2, r1.doc_id == r2.d2)
             .select("doc_id", "lang", "rank_chars", "rank_tokens",
                     F.expr("CAST(1000000 DIV (60 + rank_chars)"
                            " + 1000000 DIV (60 + rank_tokens)"
                            " AS BIGINT)").alias("rrf_q")))
    top = fused.withColumn(
        "fused_rank", F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.desc("rrf_q"), F.asc("doc_id"))))
    return (top.filter(F.col("fused_rank") <= 10)
            .select("lang", "fused_rank", "doc_id", "rank_chars",
                    "rank_tokens",
                    (F.col("rrf_q").cast("double") / 1000000.0)
                    .alias("rrf_score")))
