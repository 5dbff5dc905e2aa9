"""Tier 45 — round-10 additions: the curation stages between
"detect" and "train" that a production LLM-data pipeline runs but
the registry didn't yet declare:

* ``gopher_repetition`` — the repetition rules of Rae et al.,
  "Scaling Language Models: ... Gopher" (arXiv:2112.11446, table
  A1): fraction of characters in the most frequent word 2-gram and
  in duplicated word 5-grams, per document, in exact basis points.
* ``decontaminate_ngrams`` — train/eval n-gram decontamination
  (the GPT-3 appendix-C / Dolma procedure): flag any training doc
  sharing an 8-word shingle with the held-out eval slice.
* ``mixture_sample`` — deterministic per-source token-budget
  sampling (the Pile/Dolma mixture step): md5-ordered docs fill a
  fixed token budget per source; the same doc set falls out on any
  engine and any partitioning.
* ``exact_substring_cut`` — APPLIES tier 44's maximal-span verdicts:
  cuts every duplicated span from the text and re-emits the cleaned
  document — the actual output artifact of Lee et al.'s dedup.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup rules over pandas frames);
all four extend the LLM-data-pipeline mandate (BASELINE.json).

Exactness: everything here is integer counting, basis-point floor
division, md5 prefixes, or substring arithmetic — no floats anywhere,
so the oracle hashes are stable at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exprs import let_bind
from .registry import query
from .tier44 import _ISLAND_CTES, _spans

# ---------------------------------------------------------------------------
# gopher_repetition — repeated n-gram character fractions
# ---------------------------------------------------------------------------

_GOPHER_ORACLE = """
    WITH w AS (
      SELECT doc_id, length(text) AS n_chars,
             string_split(text, ' ') AS ws
      FROM documents
    ), g2 AS (
      SELECT doc_id, n_chars,
             array_to_string(ws[i + 1 : i + 2], ' ') AS gram
      FROM w, UNNEST(range(len(ws) - 1)) AS u(i)
    ), c2 AS (
      SELECT doc_id, n_chars, gram, COUNT(*) AS cnt
      FROM g2 GROUP BY 1, 2, 3
    ), top2 AS (
      SELECT doc_id, gram, cnt, n_chars FROM (
        SELECT doc_id, gram, cnt, n_chars,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram ASC) AS rn
        FROM c2)
      WHERE rn = 1
    ), g5 AS (
      SELECT doc_id,
             array_to_string(ws[i + 1 : i + 5], ' ') AS gram
      FROM w, UNNEST(range(len(ws) - 4)) AS u(i)
      WHERE len(ws) >= 5
    ), c5 AS (
      SELECT doc_id, gram, COUNT(*) AS cnt
      FROM g5 GROUP BY 1, 2
    ), d5 AS (
      SELECT doc_id,
             SUM(cnt * length(gram)) AS dup_chars
      FROM c5 WHERE cnt >= 2 GROUP BY doc_id
    )
    SELECT t.doc_id, t.gram AS top2_gram,
           CAST(t.cnt AS BIGINT) AS top2_cnt,
           CAST((10000 * t.cnt * length(t.gram)) // t.n_chars
                AS BIGINT) AS top2_bp,
           CAST((10000 * COALESCE(d5.dup_chars, 0)) // t.n_chars
                AS BIGINT) AS dup5_bp
    FROM top2 t LEFT JOIN d5 ON d5.doc_id = t.doc_id
"""


@query("gopher_repetition", oracle=_GOPHER_ORACLE)
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al., arXiv:2112.11446, table
    A1) in exact basis points: per document, the fraction of
    characters covered by (a) occurrences of the MOST FREQUENT word
    2-gram (ties broken to the lexicographically smallest gram, both
    engines) and (b) occurrences of every DUPLICATED word 5-gram.
    Docs exceeding these fractions are boilerplate/spam in a crawl;
    the thresholds (18%/.. in the paper) are applied downstream.

    Scale: one explode per n-gram order, each followed by a
    map-side-combinable groupBy(doc_id, gram) — keys are bounded-
    width strings co-keyed by doc, so the shuffles are corpus-linear
    and skew-free (a hot gram splits across docs). The top-1 pick is
    a WindowGroupLimit-shaped row_number over doc_id, never a global
    sort; the final frames are per-doc and join on the natural key.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars"),
        F.split("text", " ").alias("ws"))
    gram_of = (lambda k: let_bind(F.col("ws"), lambda ws: F.transform(
        F.sequence(F.lit(0), F.size(ws) - F.lit(k)),
        lambda i: F.array_join(F.slice(ws, i + 1, k), " "))))
    g2 = (d.filter(F.size("ws") >= 2)  # 1-word doc: sequence(0,-1)
           # descends to [0,-1] and slice() throws; the oracle's
           # range(len-1) is simply empty, so the doc is excluded.
          .select("doc_id", "n_chars",
                  F.explode(gram_of(2)).alias("gram"))
          .groupBy("doc_id", "n_chars", "gram")
          .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("gram").asc())
    top2 = (g2.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    d5 = (d.filter(F.size("ws") >= 5)
          .select("doc_id", F.explode(gram_of(5)).alias("gram"))
          .groupBy("doc_id", "gram")
          .agg(F.count(F.lit(1)).alias("cnt"))
          .filter(F.col("cnt") >= 2)
          .groupBy("doc_id")
          .agg(F.sum(F.col("cnt") * F.length("gram"))
                .alias("dup_chars")))
    return (top2.join(d5.hint("shuffle_hash"), "doc_id", "left")
            .select("doc_id", F.col("gram").alias("top2_gram"),
                    F.col("cnt").cast("bigint").alias("top2_cnt"),
                    F.expr("(10000 * cnt * length(gram))"
                           " div n_chars").cast("bigint")
                     .alias("top2_bp"),
                    F.expr("(10000 * coalesce(dup_chars, 0))"
                           " div n_chars").cast("bigint")
                     .alias("dup5_bp")))


# ---------------------------------------------------------------------------
# decontaminate_ngrams — train/eval shingle-overlap contamination
# ---------------------------------------------------------------------------

_DC_K = 8      # shingle length (words)
_DC_MOD = 97   # eval slice: doc_id % 97 == 0

_DC_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(ws[i + 1 : i + {_DC_K}], ' ') AS s
      FROM w, UNNEST(range(len(ws) - {_DC_K - 1})) AS u(i)
      WHERE len(ws) >= {_DC_K}
    ), ev AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % {_DC_MOD} = 0
    ), hits AS (
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sh JOIN ev USING (s)
      WHERE sh.doc_id % {_DC_MOD} <> 0
      GROUP BY sh.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_shared, 0) AS n_shared,
           (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % {_DC_MOD} <> 0
"""


@query("decontaminate_ngrams", oracle=_DC_ORACLE)
def decontaminate_ngrams(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Train/eval decontamination (the GPT-3 appendix-C procedure,
    carried by Dolma/RedPajama): the eval slice (doc_id % {m} == 0
    stands in for a benchmark set) contributes its distinct {k}-word
    shingles; every TRAINING document sharing at least one shingle
    is flagged, with the count of distinct shared shingles. The
    flagged set is what a pipeline drops (or audits) before
    training.

    Scale: both sides reduce to DISTINCT shingles before the join —
    map-side combine on (doc, shingle) then an equi-join keyed by
    the shingle; the eval side, though far smaller than the corpus,
    is DATA-dimension (grows with the benchmark suite), so the join
    carries SHUFFLE_HASH rather than relying on the broadcast
    estimator. Everything is corpus-linear.
    """
    d = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    sh = (d.filter(F.size(ws) >= _DC_K)
          .select("doc_id", F.explode(let_bind(ws, lambda w: F.transform(
              F.sequence(F.lit(0), F.size(w) - F.lit(_DC_K)),
              lambda i: F.array_join(F.slice(w, i + 1, _DC_K), " "))))
              .alias("s"))
          .distinct())
    is_eval = F.col("doc_id") % _DC_MOD == 0
    ev = sh.filter(is_eval).select("s").distinct()
    hits = (sh.filter(~is_eval)
            .join(ev.hint("shuffle_hash"), "s")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared")))
    return (d.filter(~is_eval).select("doc_id")
            .join(hits.hint("shuffle_hash"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_shared", F.lit(0)).cast("bigint")
                     .alias("n_shared"),
                    F.col("n_shared").isNotNull()
                     .alias("contaminated")))


decontaminate_ngrams.__doc__ = decontaminate_ngrams.__doc__.format(
    m=_DC_MOD, k=_DC_K)

# ---------------------------------------------------------------------------
# mixture_sample — deterministic per-source token-budget sampling
# ---------------------------------------------------------------------------

_MS_BUDGET = 400  # token budget per source

_MS_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= {_MS_BUDGET}
"""


@query("mixture_sample", oracle=_MS_ORACLE)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling (the Pile/Dolma source-mixing
    step): each source contributes documents in md5(doc_id) order
    until a fixed token budget fills — the same document set falls
    out on ANY engine, partitioning, or rerun, which is what makes a
    100 TB mixture reproducible (and auditable) without materializing
    a shuffled copy. Budgets here are uniform; production weights
    just vary the constant per source.

    Scale: one hash shuffle on source + a per-source running sum
    (no global sort); the md5 order key is computed in codegen. A
    mega-source makes a big window partition but the running sum is
    streaming within the partition — no quadratic anything; if one
    source dominates the corpus, pre-filtering by a cheap md5-prefix
    range bound (budget / min_doc_tokens docs can ever qualify)
    prunes the partition before the sort.
    """
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"))
    w = (Window.partitionBy("source").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (t.withColumn("cum_tokens",
                         F.sum("n_tokens").over(w).cast("bigint"))
            .filter(F.col("cum_tokens") <= _MS_BUDGET)
            .select("doc_id", "source", "n_tokens", "cum_tokens"))


# ---------------------------------------------------------------------------
# exact_substring_cut — apply the maximal-span cuts to the text
# ---------------------------------------------------------------------------

# reuse tier 44's island CTEs verbatim (shared _ISLAND_CTES body),
# then slice the kept segments between spans
_CUT_ORACLE = f"""
    WITH {_ISLAND_CTES}, segs AS (
      SELECT s.doc_id,
             s.s, s.e,
             COALESCE(lag(s.e) OVER (PARTITION BY s.doc_id
                                     ORDER BY s.s), 1) AS prev_e
      FROM spans s
    ), cut AS (
      SELECT g.doc_id,
             string_agg(substr(d.text, CAST(g.prev_e AS INT),
                               CAST(g.s - g.prev_e AS INT)),
                        '' ORDER BY g.s)
               || substr(d.text, CAST(MAX(g.e) AS INT)) AS clean_text
      FROM segs g JOIN d ON d.doc_id = g.doc_id
      GROUP BY g.doc_id, d.text
    )
    SELECT d.doc_id,
           COALESCE(c.clean_text, d.text) AS clean_text,
           CAST(length(COALESCE(c.clean_text, d.text)) AS BIGINT)
             AS kept_chars
    FROM d LEFT JOIN cut c ON c.doc_id = d.doc_id
"""


@query("exact_substring_cut", oracle=_CUT_ORACLE)
def exact_substring_cut(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """APPLY the maximal-span verdicts (tier 44): remove every
    duplicated span [s, e) from the document and re-emit the cleaned
    text — the artifact Lee et al.'s pipeline actually trains on.
    Kept text = the segments between consecutive spans plus the
    tail; spans are disjoint with >= 1 kept char between them by
    construction (islands merge anything closer than L), so the
    segment arithmetic is total.

    Scale: spans are sparse (the duplicated subset of positions
    collapsed ~L-fold), so the segment window and the reassembly
    group-by shuffle only span rows on doc_id; the full text rides
    along exactly once through a doc_id equi-join against the
    corpus — no per-character state anywhere.
    """
    from .tier42 import _dup_positions

    d, dup_rows = _dup_positions(spark, sf_dir)
    ws = Window.partitionBy("doc_id").orderBy("s")
    segs = _spans(dup_rows).withColumn(
        "prev_e", F.coalesce(F.lag("e").over(ws), F.lit(1)))
    cut = (segs.groupBy("doc_id")
           .agg(F.array_sort(F.collect_list(F.struct("s", "prev_e")))
                 .alias("_segs"),
                F.max("e").alias("last_e"))
           .join(d.select("doc_id", "text").hint("shuffle_hash"),
                 "doc_id")
           .select("doc_id", F.concat(
               F.array_join(F.transform(
                   "_segs",
                   lambda g: F.expr("text").substr(
                       g["prev_e"].cast("int"),
                       (g["s"] - g["prev_e"]).cast("int"))), ""),
               F.expr("substring(text, cast(last_e as int))"))
               .alias("clean_text")))
    return (d.select("doc_id", "text")
            .join(cut.hint("shuffle_hash"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", "text")
                     .alias("clean_text"))
            .withColumn("kept_chars",
                        F.length("clean_text").cast("bigint")))
