"""Tier 3b — search & retrieval over the document corpus: chunking,
TF-IDF, BM25 ranking, inverted index, k-means topic buckets.

These are the retrieval-side primitives of an LLM data pipeline
(chunk for context windows, rank for retrieval, cluster for topic
balance). All but k-means are exact-SQL-oracled; ranking ties are
broken on rounded scores + ids so float ulps can't flip order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import pin
from .registry import query

CHUNK, STRIDE = 120, 80
BM25_K1, BM25_B = 1.2, 0.75
QUERY_TERMS = ("data", "model", "spark")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (d.select("doc_id",
                     F.explode(F.split(F.lower("text"), " "))
                      .alias("token"))
             .filter(F.col("token") != ""))


_TOKENS_SQL = """
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
"""


@query(
    "chunk_documents",
    oracle=f"""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(generate_series(
                 0, greatest(length(text) - 1, 0), {STRIDE})) AS start
      FROM documents
    )
    SELECT doc_id * 1000 + start // {STRIDE} AS chunk_id,
           doc_id, CAST(start AS BIGINT) AS start,
           substr(text, start + 1, {CHUNK}) AS chunk_text,
           CAST(length(substr(text, start + 1, {CHUNK})) AS BIGINT)
               AS chunk_len
    FROM starts
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (120-char windows, 80
    stride) — the context-window prep step. sequence+explode keeps
    generation distributed and proportional to text length; at scale
    this is a flat map, no shuffle, and chunk_id is globally unique
    without coordination (doc_id * 1000 + ordinal)."""
    d = load(spark, sf_dir, "documents")
    starts = F.sequence(F.lit(0),
                        F.greatest(F.length("text") - 1, F.lit(0)),
                        F.lit(STRIDE))
    chunk = F.substring(F.col("text"), F.col("start") + 1, CHUNK)
    return (d.select("doc_id", "text",
                     F.explode(starts).alias("start"))
             .select((F.col("doc_id") * 1000
                      + (F.col("start") / STRIDE).cast("bigint"))
                     .alias("chunk_id"),
                     "doc_id",
                     F.col("start").cast("bigint").alias("start"),
                     chunk.alias("chunk_text"),
                     F.length(chunk).cast("bigint").alias("chunk_len")))


@query(
    "tfidf_topk",
    oracle=f"""
    WITH toks AS ({_TOKENS_SQL} ),
    toks_f AS (SELECT * FROM toks WHERE token <> ''),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks_f GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks_f GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf,
             round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS idf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    )
    SELECT doc_id, token, tf, idf,
           round(tf * idf, 6) AS score, rn
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id
            ORDER BY round(tf * idf, 6) DESC, token ASC) AS BIGINT)
            AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document. df is a broadcast-sized side
    (vocabulary), so the tf⋈df join broadcasts; ranking runs on the
    6dp-rounded score with a token tie-break so cross-engine ln()
    ulps can't flip the cut."""
    toks = _tokens(spark, sf_dir)
    # r13: pin the tf census and derive df FROM it — tf already holds
    # one row per (doc, token), so count(*) per token equals the old
    # countDistinct over raw tokens, without a distinct pass or a
    # second tokenize (toks previously fed both censuses)
    tf = pin(toks.groupBy("doc_id", "token")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("tf")),
             eager=False)
    df = (tf.groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df")))
    # in-plan scalar (broadcast 1-row crossJoin), not a .count() job
    n = (load(spark, sf_dir, "documents")
         .agg(F.count(F.lit(1)).cast("double").alias("n_docs")))
    scored = (tf.join(F.broadcast(df), "token")
                .crossJoin(F.broadcast(n))
                .withColumn("idf", F.round(
                    F.log(F.col("n_docs") / F.col("df")), 6))
                .withColumn("score",
                            F.round(F.col("tf") * F.col("idf"), 6)))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.col("score").desc(), F.col("token").asc()))
    return (scored.withColumn("rn", F.row_number().over(w)
                              .cast("bigint"))
                  .filter(F.col("rn") <= 5)
                  .select("doc_id", "token", "tf", "idf", "score",
                          "rn"))


@query(
    "bm25_search",
    oracle=f"""
    WITH toks AS ({_TOKENS_SQL} ),
    toks_f AS (SELECT * FROM toks WHERE token <> ''),
    dlen AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
             FROM toks_f GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     (SELECT avg(dl) FROM dlen) AS avgdl
              FROM documents),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks_f
           WHERE token IN ('data', 'model', 'spark')
           GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM tf GROUP BY token),
    parts AS (
      SELECT tf.doc_id,
             ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * dlen.dl / s.avgdl)) AS part
      FROM tf JOIN df ON tf.token = df.token
      JOIN dlen ON tf.doc_id = dlen.doc_id CROSS JOIN stats s
    )
    SELECT doc_id, round(SUM(part), 6) AS score
    FROM parts GROUP BY doc_id
    ORDER BY round(SUM(part), 6) DESC, doc_id ASC
    LIMIT 20
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed query term
    set — top-20 documents. Only hit rows (token IN terms) survive the
    first aggregation, so the scored set is tiny regardless of corpus
    size; df/avgdl are scalar/broadcast sides."""
    toks = _tokens(spark, sf_dir)
    # r13: ONE tokenize pass. The old shape derived dlen, avgdl and
    # tf each from `toks`, and tf fed two branches — the explode
    # subtree planned (and ran) FOUR times (4 documents scans in the
    # r13-open plan). A single per-doc aggregation computes dl and
    # one count_if per query term map-side-combinably; the per-term
    # counts unpivot JVM-side into the (doc_id, token, tf) rows the
    # oracle's tf CTE produces (count_if(token = t) == the grouped
    # count, rows with tf = 0 dropped exactly like the missing
    # groups), and dl rides along so the old dlen join disappears.
    # The doc-sized frame is pinned for its three consumers.
    per_doc = pin(toks.groupBy("doc_id")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("dl"),
                       *[F.count_if(F.col("token") == t).cast("bigint")
                         .alias(f"_tf_{i}")
                         for i, t in enumerate(QUERY_TERMS)]), eager=False)
    # corpus stats stay in-plan: a 1-row (n_docs, avgdl) aggregate is
    # broadcast-crossJoined instead of collect()ed (mirrors the
    # oracle's CROSS JOIN stats)
    stats = (load(spark, sf_dir, "documents")
             .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
             .crossJoin(per_doc.agg(F.avg("dl").alias("avgdl"))))
    tf = (per_doc.select("doc_id", "dl", F.explode(F.array(*[
            F.struct(F.lit(t).alias("token"),
                     F.col(f"_tf_{i}").alias("tf"))
            for i, t in enumerate(QUERY_TERMS)])).alias("_e"))
          .select("doc_id", "dl", "_e.token", "_e.tf")
          .filter(F.col("tf") > 0))
    # tf holds one row per (doc, token): COUNT(*) == COUNT(DISTINCT
    # doc_id) here, and count is combinable without a distinct pass
    df = (tf.groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df")))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    part = (idf * F.col("tf") * (BM25_K1 + 1)
            / (F.col("tf") + BM25_K1 * (1 - BM25_B
               + BM25_B * F.col("dl") / F.col("avgdl"))))
    return (tf.join(F.broadcast(df), "token")
              .crossJoin(F.broadcast(stats))
              .select("doc_id", part.alias("part"))
              .groupBy("doc_id")
              .agg(F.round(F.sum("part"), 6).alias("score"))
              .orderBy(F.col("score").desc(), F.col("doc_id").asc())
              .limit(20))


@query(
    "inverted_index",
    oracle=f"""
    WITH toks AS ({_TOKENS_SQL} ),
    toks_f AS (SELECT DISTINCT doc_id, token FROM toks
               WHERE token <> '')
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_transform(list_sort(list(doc_id)),
                           x -> CAST(x AS VARCHAR)), ',') AS postings
    FROM toks_f GROUP BY token HAVING COUNT(*) >= 5
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (token -> sorted posting list) for terms in >=5
    docs. Postings sort numerically before stringifying on both
    engines. At scale the posting list per common term is the skew
    risk — real deployments cap or shard hot terms (cf. skew.py)."""
    toks = _tokens(spark, sf_dir).distinct()
    return (toks.groupBy("token")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                     F.array_join(
                         F.transform(F.sort_array(
                             F.collect_list("doc_id")),
                             lambda x: x.cast("string")), ",")
                      .alias("postings"))
                .filter(F.col("n_docs") >= 5))


@query("kmeans_topics")  # rows-only: iterative, fp-merge-order sensitive
def kmeans_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means topic buckets over embeddings (k=8, 5 Lloyd
    iterations, deterministic lowest-id init). Convergence and
    distribution contracts in tests/test_kmeans.py."""
    from ..operators.kmeans import kmeans_assign
    em = load(spark, sf_dir, "embeddings")
    return kmeans_assign(em, "vec_id", "embedding", k=8, n_iter=5)
