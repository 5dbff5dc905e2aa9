"""Tier-33 queries: randomized-symmetry-breaking graph algorithms,
cross-group feature normalization, and language-model smoothing /
topic diagnostics.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup). Four more operator families
behind the exact gate: Luby's maximal-independent-set (the
symmetry-breaking primitive under distributed graph coloring and
scheduling — "randomness" derandomized into a deterministic integer
priority so both engines agree), quantile normalization (the
cross-group distribution aligner from bioinformatics, pure order
statistics), Kneser-Ney bigram smoothing (THE n-gram LM estimator,
whose 0.75 discount is exactly 3/4 and therefore rational), and
UMass topic coherence (the standard "are these top terms actually a
topic" diagnostic for the tier-3b topic stack).

Exactness: priorities, ranks, counts and co-occurrence censuses are
BIGINTs; Kneser-Ney probabilities are single identically-written
double expressions over integer carriers quantized once at the end;
coherence logs quantize per term on the 1e-6 grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.graph import co_supplier_edges
from ..operators.rank import global_row_number, grouped_row_number
from ..session import hold, pin
from . import shared_sql
from .registry import query
from .tier28 import _LNQ

_MIS_ROUNDS = 4


# ---------------------------------------------------------------------------
# Luby's maximal independent set, derandomized
# ---------------------------------------------------------------------------

def _mis_oracle() -> str:
    rounds = []
    prev_und = "und0"
    sel = []
    for r in range(1, _MIS_ROUNDS + 1):
        rounds.append(f"""
    mis{r} AS MATERIALIZED (
      SELECT u.node
      FROM {prev_und} u
      LEFT JOIN (
        SELECT e.a AS node, MIN(n.pri) AS minp
        FROM edges e JOIN {prev_und} n ON n.node = e.b
        WHERE EXISTS (SELECT 1 FROM {prev_und} x
                      WHERE x.node = e.a)
        GROUP BY e.a) nb ON nb.node = u.node
      WHERE nb.minp IS NULL OR u.pri < nb.minp),
    rem{r} AS MATERIALIZED (
      SELECT DISTINCT e.b AS node
      FROM edges e JOIN mis{r} m ON m.node = e.a),
    und{r} AS MATERIALIZED (
      SELECT u.node, u.pri FROM {prev_und} u
      WHERE u.node NOT IN (SELECT node FROM mis{r})
        AND u.node NOT IN (SELECT node FROM rem{r}))""")
        sel.append(f"SELECT node, {r} AS mis_round FROM mis{r}")
        prev_und = f"und{r}"
    return f"""
    WITH {shared_sql.CO_SUPPLIER_EDGES_CTES},
    nodes AS MATERIALIZED (
      SELECT DISTINCT a AS node FROM edges),
    und0 AS MATERIALIZED (
      SELECT node,
             (node * 2654435761) % 2147483648 * 100000 + node
                 AS pri
      FROM nodes),
    {','.join(rounds)},
    mis_all AS ({' UNION ALL '.join(sel)})
    SELECT n.node AS suppkey,
           m.node IS NOT NULL AS in_mis,
           CAST(m.mis_round AS BIGINT) AS mis_round
    FROM nodes n LEFT JOIN mis_all m ON m.node = n.node
    """


@query("maximal_independent_set", oracle=_mis_oracle())
def maximal_independent_set(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Luby's maximal-independent-set on the co-supplier graph, 4
    unrolled rounds, DERANDOMIZED: each node's "random" priority is
    the deterministic integer (node * 2654435761) mod 2^31 (made
    collision-free by appending the node id), a node joins the MIS
    when its priority beats every undecided neighbor's, and its
    neighbors leave the game — the symmetry-breaking primitive under
    distributed coloring, scheduling, and parallel greedy matching.
    Both engines walk the identical derandomized orbit, so
    membership and join-round match exactly.

    Scale: each round is two semi-joins of the edge list against the
    undecided set plus a min-aggregate — the PageRank cost shape;
    Luby's theorem says O(log n) expected rounds kill the graph, so
    the fixed unroll covers the bulk and the output marks what
    remains undecided (NULL round, in_mis false).
    """
    edges = pin(co_supplier_edges(load(spark, sf_dir, "lineitem")))
    nodes = edges.select(F.col("a").alias("node")).distinct()
    und = nodes.withColumn(
        "pri", F.expr("(node * 2654435761) % 2147483648"
                      " * 100000 + node"))
    mis_parts = []
    for r in range(1, _MIS_ROUNDS + 1):
        nbr = (edges
               .join(und.select(F.col("node").alias("a")), "a")
               .join(und.select(F.col("node").alias("b"),
                                F.col("pri").alias("npri")), "b")
               .groupBy("a").agg(F.min("npri").alias("minp"))
               .withColumnRenamed("a", "node"))
        mis = hold(und.join(nbr, "node", "left")
                   .filter(F.col("minp").isNull()
                           | (F.col("pri") < F.col("minp")))
                   .select("node"))
        mis_parts.append(mis.withColumn(
            "mis_round", F.lit(r).cast("bigint")))
        rem = (edges.join(mis.withColumnRenamed("node", "a"), "a")
               .select(F.col("b").alias("node")).distinct())
        und = hold(und.join(mis, "node", "left_anti")
                   .join(rem, "node", "left_anti"))
    mis_all = mis_parts[0]
    for p in mis_parts[1:]:
        mis_all = mis_all.unionAll(p)
    return (nodes.join(mis_all, "node", "left")
            .select(F.col("node").alias("suppkey"),
                    F.col("mis_round").isNotNull().alias("in_mis"),
                    "mis_round"))


# ---------------------------------------------------------------------------
# quantile normalization across groups
# ---------------------------------------------------------------------------

@query(
    "quantile_normalization",
    oracle="""
    WITH vals AS (
      SELECT o_orderkey AS k, o_orderpriority AS prio,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                 AS cents
      FROM orders),
    grp AS (
      SELECT k, prio, cents,
             ROW_NUMBER() OVER (PARTITION BY prio
                                ORDER BY cents, k) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY prio) AS BIGINT)
                 AS ng
      FROM vals),
    gpos AS (
      SELECT cents AS gval,
             ROW_NUMBER() OVER (ORDER BY cents, k) AS pos,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM vals),
    mapped AS (
      SELECT g.k, g.prio, g.cents,
             ((2 * g.rk - 1) * (SELECT MAX(n) FROM gpos) + g.ng)
               // (2 * g.ng) AS pos
      FROM grp g)
    SELECT m.k AS o_orderkey, m.prio, m.cents,
           CAST(gl.gval AS BIGINT) AS normalized_cents
    FROM mapped m JOIN gpos gl ON gl.pos = m.pos
    """,
)
def quantile_normalization(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Quantile normalization of order totals across priority
    groups: each value maps to the GLOBAL order statistic at its
    within-group quantile position (midpoint convention, index
    ((2rk-1)N + ng) // (2 ng) in pure integers) — after it, every
    group has pointwise-identical distributions, the
    batch-effect-removal standard from bioinformatics and the
    heavy-duty sibling of `grouped_zscore`. Exact end to end: ranks,
    positions, and the mapped values are all BIGINTs.

    Scale (round 7): BOTH ranks are the bucketed two-phase
    `operators.rank` utilities — the per-group rank via
    `grouped_row_number` (hot 5-value `prio` groups spread across
    buckets, not one task per group) and the global rank via
    `global_row_number`; group sizes and n are broadcast attaches;
    one equi-join on position. No single-partition (or
    single-group-task) sort anywhere.
    """
    od = load(spark, sf_dir, "orders")
    vals = od.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint").alias("cents"))
    # r13 pin: vals feeds the group census, both rank engines and the
    # scalar attach — four re-scans of orders unpinned
    vals = pin(vals, eager=False)
    ngs = vals.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"))
    grp = (grouped_row_number(vals, ["prio"],
                              [F.asc("cents"), F.asc("k")],
                              lead="cents", out="rk")
           .join(F.broadcast(ngs), "prio"))
    glob = global_row_number(vals, [F.asc("cents"), F.asc("k")],
                             lead="cents", out="pos")
    gl = glob.select(F.col("cents").alias("gval"), "pos")
    nrow = vals.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    mapped = (grp.crossJoin(F.broadcast(nrow))
              .select("k", "prio", "cents",
                      F.expr("((2 * rk - 1) * nn + ng)"
                             " DIV (2 * ng)").alias("pos")))
    return (mapped.join(gl, "pos")
            .select(F.col("k").alias("o_orderkey"), "prio", "cents",
                    F.col("gval").cast("bigint")
                    .alias("normalized_cents")))


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram language model
# ---------------------------------------------------------------------------

@query(
    "kneser_ney_bigram",
    oracle="""
    WITH words AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> x <> '') AS ws
      FROM documents),
    big AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM words, unnest(range(1, len(ws))) AS r(i)
      WHERE len(ws) >= 2),
    bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
      FROM big GROUP BY 1, 2),
    c1 AS (
      SELECT w1, CAST(SUM(c) AS BIGINT) AS ctot,
             CAST(COUNT(*) AS BIGINT) AS ntypes
      FROM bc GROUP BY 1),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont
      FROM bc GROUP BY 1),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bc)
    SELECT b.w1, b.w2, b.c,
           CAST(FLOOR((
             CAST(4 * b.c - 3 AS DOUBLE) / (4 * c1.ctot)
             + (CAST(3 AS DOUBLE) * c1.ntypes / (4 * c1.ctot))
               * (CAST(cont.ncont AS DOUBLE) / tt.t)
           ) * 1000000000.0 + 0.5) / 1000000000.0 AS DOUBLE)
               AS p_kn
    FROM bc b
    JOIN c1 ON c1.w1 = b.w1
    JOIN cont ON cont.w2 = b.w2
    CROSS JOIN tt
    WHERE b.c >= 5
    """,
)
def kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities over the corpus (all
    bigrams seen >= 5 times): P(w2|w1) = max(c - 0.75, 0)/c(w1.) +
    0.75 * types(w1.)/c(w1.) * Pcont(w2), where the continuation
    probability counts DISTINCT left contexts — the estimator that
    makes "San Francisco" not inflate P(Francisco | anything). The
    0.75 discount is exactly 3/4, so every term is a ratio of exact
    integers ((4c-3)/4c1, 3*types/4c1, ncont/T) combined in ONE
    identically-written double expression and quantized once on the
    1e-9 grid — the upgrade of `bigram_pmi` from association scores
    to a proper smoothed LM, feeding `doc_perplexity`-style scoring.

    Scale: three map-side-combinable censuses over the bigram
    stream (pair counts, left-context totals, distinct-left-context
    counts) + dimension joins; the bigram table is the working set
    and every downstream table is vocabulary-sized.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.expr(
        "filter(split(lower(text), '[^a-z]+'), x -> x <> '')")
        .alias("ws")).filter(F.expr("size(ws) >= 2"))
    big = words.select(F.expr(
        "explode(transform(sequence(0, size(ws) - 2),"
        " i -> struct(ws[i] AS w1, ws[i + 1] AS w2)))").alias("p")
    ).select("p.w1", "p.w2")
    # r13: pin the bigram census — c1/cont/tt and the final join all
    # consume bc, re-running the tokenize+bigram explode per branch
    # (4 documents scans in the r13-open plan) without the pin
    bc = pin(big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")), eager=False)
    c1 = bc.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("ctot"),
        F.count(F.lit(1)).cast("bigint").alias("ntypes"))
    cont = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("ncont"))
    tt = bc.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    return (bc.filter(F.col("c") >= 5)
            .join(c1, "w1")
            .join(cont, "w2")
            .crossJoin(F.broadcast(tt))
            .select("w1", "w2", "c",
                    F.expr("CAST(FLOOR(("
                           " CAST(4 * c - 3 AS DOUBLE) / (4 * ctot)"
                           " + (CAST(3 AS DOUBLE) * ntypes"
                           "    / (4 * ctot))"
                           "   * (CAST(ncont AS DOUBLE) / t)"
                           ") * 1000000000.0 + 0.5) AS DOUBLE)"
                           " / 1000000000.0").alias("p_kn")))


# ---------------------------------------------------------------------------
# UMass topic coherence of per-language top terms
# ---------------------------------------------------------------------------

@query(
    "topic_coherence",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, lang, UNNEST(list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> x <> '')) AS w
      FROM documents),
    freq AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS df
      FROM toks GROUP BY 1, 2),
    top AS (
      SELECT lang, w, df,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY df DESC, w) AS rk
      FROM freq),
    t5 AS (SELECT lang, w, df, rk FROM top WHERE rk <= 5),
    pairs AS (
      SELECT a.lang, a.w AS wi, b.w AS wj, b.df AS dfj
      FROM t5 a JOIN t5 b
        ON b.lang = a.lang AND a.rk > b.rk),
    co AS (
      SELECT p.lang, p.wi, p.wj, p.dfj,
             CAST(COUNT(*) AS BIGINT) AS dij
      FROM pairs p
      JOIN toks ta ON ta.lang = p.lang AND ta.w = p.wi
      JOIN toks tb ON tb.lang = p.lang AND tb.w = p.wj
                  AND tb.doc_id = ta.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SUM({_LNQ.format(v='dij + 1')}
                 - {_LNQ.format(v='dfj')}) AS DOUBLE)
                / 1000000.0 AS DOUBLE) AS coherence
    FROM co GROUP BY lang
    """,
)
def topic_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UMass topic coherence of each language's top-5 document-
    frequency terms: sum over ordered term pairs (wi later than wj
    in the ranking) of ln((D(wi, wj) + 1) / D(wj)) with document
    co-occurrence counts — the standard automatic "is this set of
    top terms a real topic or noise" score for the tier-3b topic
    stack (`kmeans_topics`, `tfidf_topk`), computed here over the
    deterministic per-language term ranking so the oracle is exact.
    Both logs quantize per term on the 1e-6 grid from exact integer
    document counts.

    Scale: one distinct (doc, term) projection, a per-language
    document-frequency census, and co-occurrence counts only for the
    5x4/2 = 10 ranked pairs per language — the co-occurrence join is
    pair-list x inverted-index sized, never corpus x corpus.
    """
    docs = load(spark, sf_dir, "documents")
    # r13 pin: toks feeds the df census and BOTH sides of the
    # co-occurrence join — tokenize+distinct ran 3x unpinned
    toks = pin(docs.select(
        "doc_id", "lang",
        F.explode(F.expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
        .alias("w"))
        .distinct(), eager=False)
    freq = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    top = freq.withColumn("rk", F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("df"), F.asc("w"))))
    t5 = top.filter(F.col("rk") <= 5)
    a = t5.select("lang", F.col("w").alias("wi"),
                  F.col("rk").alias("ri"))
    b = t5.select(F.col("lang").alias("lb"), F.col("w").alias("wj"),
                  F.col("df").alias("dfj"), F.col("rk").alias("rj"))
    pairs = (a.join(b, (F.col("lang") == F.col("lb"))
                    & (F.col("ri") > F.col("rj")))
             .select("lang", "wi", "wj", "dfj"))
    ta = toks.select(F.col("lang").alias("la"),
                     F.col("w").alias("wa"),
                     F.col("doc_id").alias("da"))
    tb = toks.select(F.col("lang").alias("lb2"),
                     F.col("w").alias("wb"),
                     F.col("doc_id").alias("db"))
    co = (F.broadcast(pairs)
          .join(ta, (F.col("la") == F.col("lang"))
                & (F.col("wa") == F.col("wi")))
          .join(tb, (F.col("lb2") == F.col("lang"))
                & (F.col("wb") == F.col("wj"))
                & (F.col("db") == F.col("da")))
          .groupBy("lang", "wi", "wj", "dfj")
          .agg(F.count(F.lit(1)).cast("bigint").alias("dij")))
    return (co.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 (F.sum(F.expr(
                     f"{_LNQ.format(v='dij + 1')}"
                     f" - {_LNQ.format(v='dfj')}")).cast("double")
                  / 1000000.0).alias("coherence")))
