"""Tier-13 queries (round 3): dedup survivorship and n-gram novelty —
the two curation decisions that sit immediately downstream of the
dedup operators in a training-data pipeline.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the
LLM-data-pipeline surface mandated by BASELINE.json.

* survivorship: after grouping duplicates, WHICH copy feeds the
  training set (the longest, ties to the lowest doc_id — the
  CCNet/RefinedWeb convention of keeping the richest capture).
* novelty: what fraction of a document's 3-grams appear for the
  first time in the corpus (doc_id order) — high-novelty docs carry
  new content; near-zero novelty marks template spam even when the
  exact-dup key differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.dedup import normalize_text, word_shingles
from ..session import pin
from .registry import query


@query(
    "dedup_survivorship",
    oracle=r"""
    WITH g AS (
      SELECT doc_id, n_chars,
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
      FROM documents),
    r AS (
      SELECT doc_id,
             CAST(COUNT(*) OVER (PARTITION BY norm) AS BIGINT)
               AS group_size,
             ROW_NUMBER() OVER (PARTITION BY norm
                                ORDER BY n_chars DESC, doc_id ASC) AS rk,
             CAST(FIRST_VALUE(doc_id) OVER (
                    PARTITION BY norm
                    ORDER BY n_chars DESC, doc_id ASC) AS BIGINT)
               AS canonical_id
      FROM g)
    SELECT doc_id, group_size, rk = 1 AS is_survivor, canonical_id
    FROM r
    """,
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship after exact dedup: group by normalized text, keep
    the longest copy (ties to lowest doc_id) as the canonical
    document, and emit every row's verdict plus its group's canonical
    id — the join key for redirecting downstream references.

    Scale: one shuffle on the normalized key; both the verdict and
    the canonical id come from the same window pass, and group keys
    are content-derived so the shuffle collapses under map-side
    combine exactly like `exact_dedup`. At 100 TB hash the key
    (xxhash64) instead of carrying the full normalized string into
    the exchange.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("_norm").orderBy(F.col("n_chars").desc(),
                                            F.col("doc_id").asc())
    return (d.select("doc_id", "n_chars",
                     normalize_text(F.col("text")).alias("_norm"))
            .select("doc_id",
                    F.count(F.lit(1)).over(Window.partitionBy("_norm"))
                     .cast("bigint").alias("group_size"),
                    (F.row_number().over(w) == 1).alias("is_survivor"),
                    F.first("doc_id").over(w).cast("bigint")
                     .alias("canonical_id")))


@query(
    "ngram_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, str_split_regex(text, '\s+') AS w
      FROM documents WHERE text IS NOT NULL),
    tri AS (
      SELECT DISTINCT doc_id,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM toks, LATERAL (SELECT unnest(range(greatest(len(w) - 2, 0)))
                          AS i) s
      WHERE len(w) >= 3),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM tri GROUP BY g)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = t.doc_id)
                AS BIGINT) AS n_novel,
           round(COUNT(*) FILTER (WHERE f.first_doc = t.doc_id)
                 * 1.0 / COUNT(*), 6) AS novelty_ratio
    FROM tri t JOIN firsts f ON t.g = f.g
    GROUP BY t.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty: the share of a doc's distinct
    trigrams whose FIRST corpus occurrence (doc_id order) is this
    doc. The gram-level sibling of `vocab_growth`'s word curve:
    boilerplate scores near 0 even when exact-dup keys differ, fresh
    content scores near 1 — a cheap dedup-aware sampling weight.

    Scale: one wide shuffle keyed by gram (min-combining map-side)
    to find first occurrences, then a per-doc aggregate on the
    already-doc-keyed gram set. Same decomposition that makes
    `vocab_growth` scale; no windows, no all-pairs anything.
    """
    d = load(spark, sf_dir, "documents")
    tri = (d.filter(F.col("text").isNotNull())
            .filter(F.size(F.split(F.col("text"), r"\s+")) >= 3)
            .select("doc_id",
                    F.explode(word_shingles(F.col("text"), 3))
                     .alias("g")))
    # r13: collapse to (gram, doc, occurrences) FIRST — one explode
    # instead of two (tri fed both the firsts aggregate and the join
    # probe, so the shingle pass planned and ran twice), and the
    # pinned pair table is duplicate-gram-collapsed before both
    # shuffles. Weighting by c keeps occurrence semantics identical.
    g2 = pin(tri.groupBy("g", "doc_id")
             .agg(F.count(F.lit(1)).alias("c")), eager=False)
    firsts = g2.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"),
                   F.col("c")).otherwise(0)
    return (g2.join(firsts, "g")
            .groupBy("doc_id")
            .agg(F.sum("c").cast("bigint").alias("n_grams"),
                 F.sum(novel).cast("bigint").alias("n_novel"),
                 F.round(F.sum(novel) / F.sum("c"), 6)
                  .alias("novelty_ratio")))
