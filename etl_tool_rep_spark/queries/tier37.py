"""Tier-37 queries: Markov-chain analytics and corpus dispersion —
the final round-6 additions.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup). `markov_stationary_exact`
closes the sequential-behavior family: `path_transitions` counts the
transition matrix, this tier iterates it to the stationary
distribution (where user sessions SPEND their time, the basis of
Markov attribution and simulation) plus the chain's entropy rate —
all under the bounded-integer-iteration discipline of
`pagerank_exact`. `token_dispersion` is the corpus-linguistics
dispersion census (variance-to-mean of per-document counts): a
high-frequency token concentrated in few documents is topical or
boilerplate, one spread evenly is grammatical — the signal
`tfidf_topk` uses implicitly, certified explicitly.

Exactness: transition counts are BIGINTs; each power-iteration round
multiplies integer mass by integer counts and divides by integer row
totals (floor), then rescales to a fixed 1e6 total — bounded-round
semantics identical in both engines. Dispersion ratios and entropy
terms quantize once on the 1e-6 grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import pin
from .registry import query
from .tier28 import _LNQ

_MARKOV_ROUNDS = 8


def _markov_oracle() -> str:
    rounds = []
    prev = "pi0"
    for r in range(1, _MARKOV_ROUNDS + 1):
        rounds.append(f"""
    m{r} AS MATERIALIZED (
      SELECT t.dst AS state,
             CAST(SUM(p.mass * t.c // t.rt) AS BIGINT) AS raw
      FROM {prev} p JOIN tm t ON t.src = p.state
      GROUP BY t.dst),
    pi{r} AS MATERIALIZED (
      SELECT state,
             CAST(raw * 1000000 // (SELECT SUM(raw) FROM m{r})
                  AS BIGINT) AS mass
      FROM m{r})""")
        prev = f"pi{r}"
    return f"""
    WITH ev AS (
      SELECT user_id, event_type, ts, event_id
      FROM events),
    seq AS (
      SELECT user_id, event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM ev),
    tm AS MATERIALIZED (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY src) AS BIGINT)
                 AS rt
      FROM seq WHERE dst IS NOT NULL
      GROUP BY src, dst),
    states AS (SELECT DISTINCT src AS state FROM tm),
    pi0 AS (
      SELECT state,
             CAST(1000000 // (SELECT COUNT(*) FROM states)
                  AS BIGINT) AS mass
      FROM states),
    {','.join(rounds)},
    hrate AS (
      SELECT CAST(SUM(p.mass * t.c * ({_LNQ.format(v='t.rt')}
                   - {_LNQ.format(v='t.c')}) // t.rt) AS BIGINT)
                 AS h_q
      FROM {prev} p JOIN tm t ON t.src = p.state)
    SELECT p.state,
           CAST(CAST(p.mass AS DOUBLE) / 1000000.0 AS DOUBLE)
               AS stationary,
           CAST(CAST(hrate.h_q AS DOUBLE) / 1000000000000.0
               AS DOUBLE) AS entropy_rate
    FROM {prev} p CROSS JOIN hrate
    """


@query("markov_stationary_exact", oracle=_markov_oracle())
def markov_stationary_exact(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Stationary distribution of the user event-type Markov chain
    (8 unrolled power-iteration rounds over the per-user transition
    counts `path_transitions` censuses) plus the chain's entropy
    rate sum_i pi_i sum_j p_ij ln(1/p_ij) — where sessions spend
    their time and how predictable the next step is, the two numbers
    under Markov attribution, bot detection (near-zero entropy
    rate), and session simulation. Iteration discipline: integer
    mass x integer count // integer row total per term, rescaled to
    a fixed 1e6 total each round — bounded-round semantics identical
    in both engines (the `pagerank_exact` class), entropy terms on
    the integer log grid.

    Scale: the transition census is one window + one
    map-side-combinable count over the event stream; iteration is
    |states|^2-sized joins (constant here); the entropy rate is one
    pass over the transition table.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("event_type").alias("src"),
                    F.lead("event_type").over(w).alias("dst"))
    tm = pin(seq.filter(F.col("dst").isNotNull())
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
             .withColumn("rt", F.sum("c").over(
                 Window.partitionBy("src")).cast("bigint")))
    states = tm.select(F.col("src").alias("state")).distinct()
    nst = states.agg(F.count(F.lit(1)).alias("ns"))
    pi = (states.crossJoin(F.broadcast(nst))
          .select("state",
                  F.expr("CAST(1000000 DIV ns AS BIGINT)")
                  .alias("mass")))
    for _ in range(_MARKOV_ROUNDS):
        m = (pi.join(tm, pi.state == tm.src)
             .groupBy("dst")
             .agg(F.sum(F.expr("mass * c DIV rt")).cast("bigint")
                  .alias("raw")))
        tot = m.agg(F.sum("raw").alias("t"))
        pi = pin(m.crossJoin(F.broadcast(tot))
                 .select(F.col("dst").alias("state"),
                         F.expr("CAST(raw * 1000000 DIV t AS BIGINT)")
                         .alias("mass")))
    hrate = (pi.join(tm, pi.state == tm.src)
             .agg(F.sum(F.expr(
                 f"mass * c * ({_LNQ.format(v='rt')}"
                 f" - {_LNQ.format(v='c')}) DIV rt"))
                 .cast("bigint").alias("h_q")))
    return (pi.crossJoin(F.broadcast(hrate))
            .select("state",
                    (F.col("mass").cast("double") / 1000000.0)
                    .alias("stationary"),
                    (F.col("h_q").cast("double") / 1000000000000.0)
                    .alias("entropy_rate")))


# ---------------------------------------------------------------------------
# token dispersion census (concentrated vs spread vocabulary)
# ---------------------------------------------------------------------------

@query(
    "token_dispersion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> x <> '')) AS w
      FROM documents),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
           FROM toks),
    per AS (
      SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2),
    agg AS (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS tf,
             CAST(SUM(c * c) AS BIGINT) AS tf2
      FROM per GROUP BY 1),
    top AS (
      SELECT a.w, a.df, a.tf, a.tf2, nd.n,
             ROW_NUMBER() OVER (ORDER BY a.tf DESC, a.w) AS rk
      FROM agg a CROSS JOIN nd)
    SELECT w AS token, rk, df, tf,
           -- variance-to-mean over ALL n docs (zeros included):
           -- VMR = (sum c^2 - tf^2/n) / tf
           CAST(FLOOR((CAST(tf2 AS DOUBLE)
                 - CAST(tf AS DOUBLE) * tf / n)
                 / CAST(tf AS DOUBLE) * 1000000.0 + 0.5)
                 / 1000000.0 AS DOUBLE) AS vmr,
           CAST(FLOOR(CAST(df AS DOUBLE) * 1000000.0 / n + 0.5)
                 / 1000000.0 AS DOUBLE) AS doc_coverage
    FROM top WHERE rk <= 50
    """,
)
def token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion census of the 50 highest-frequency tokens: the
    variance-to-mean ratio of per-document counts (zeros included —
    VMR 1 = Poisson-spread grammatical word, VMR >> 1 = bursty /
    topical / boilerplate) plus document coverage — the
    corpus-linguistics signal that separates "frequent because
    everywhere" from "frequent because concentrated", which is
    exactly the split `tfidf_topk` and `boilerplate_spans` exploit.
    Counts and squared-count sums are exact BIGINTs; VMR is one
    identically-written expression via the computational identity
    (sum c^2 - tf^2/n)/tf, quantized once.

    Scale: one (token, doc) census with map-side combine, one
    token-level rollup, a top-50 rank — vocabulary-sized state,
    corpus-sized only in the first scan.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
        .alias("w"))
    nd = toks.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    per = toks.groupBy("w", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"))
    agg = per.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("tf"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("tf2"))
    top = (agg.crossJoin(F.broadcast(nd))
           .withColumn("rk", F.row_number().over(
               Window.orderBy(F.desc("tf"), F.asc("w")))))
    return (top.filter(F.col("rk") <= 50)
            .select(F.col("w").alias("token"), "rk", "df", "tf",
                    F.expr("CAST(FLOOR((CAST(tf2 AS DOUBLE)"
                           " - CAST(tf AS DOUBLE) * tf / n)"
                           " / CAST(tf AS DOUBLE) * 1000000.0 + 0.5)"
                           " AS DOUBLE) / 1000000.0").alias("vmr"),
                    F.expr("CAST(FLOOR(CAST(df AS DOUBLE)"
                           " * 1000000.0 / n + 0.5) AS DOUBLE)"
                           " / 1000000.0").alias("doc_coverage")))
