"""Tier-15 queries (round 4): corpus governance + skew-path proofs.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the
LLM-data-pipeline surface mandated by BASELINE.json, and close two
gaps a 100 TB operator hits weekly:

* boilerplate detection — the span-level complement of document dedup
  (headers/footers/templates repeat across *different* documents and
  survive doc-level dedup untouched);
* one BPE merge step — the corpus statistic tokenizer training is
  built from (the most frequent adjacent symbol pair);
* the dataset manifest ("data card") — per-(lang, source) size /
  token / duplication accounting that every curation decision reads;
* salted join + salted aggregation registered as QUERIES with plain
  SQL oracles — the skew utilities in operators/skew.py are only
  usable at 100 TB if they are *provably* semantics-preserving, so
  their equivalence to the unsalted plan is part of the correctness
  gate, not just a unit test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.dedup import normalize_text, word_shingles
from ..operators.skew import salted_agg_count, salted_join
from ..session import pin
from .registry import query


@query(
    "boilerplate_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, str_split_regex(text, '\s+') AS w
      FROM documents WHERE text IS NOT NULL),
    sp AS (
      SELECT DISTINCT doc_id, source,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] || ' ' ||
             w[i + 4] || ' ' || w[i + 5] AS g
      FROM toks, LATERAL (SELECT unnest(range(greatest(len(w) - 4, 0)))
                          AS i) s
      WHERE len(w) >= 5)
    SELECT g AS span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM sp GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 3
    """,
)
def boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate: 5-word spans occurring in >= 3
    distinct documents, with their document/source spread and first
    corpus occurrence. Doc-level dedup never sees these (the
    surrounding documents differ); span-level detection is how
    headers, cookie banners and license blurbs get stripped before
    training.

    Scale: distinct spans per doc are produced by one JVM-side
    shingling pass (`word_shingles` — let-bound split, array_distinct)
    and the only shuffle is the groupBy(span) with map-side partial
    distinct-count combine. Span keys are content-hashes at 100 TB
    (xxhash64(g)) if string width ever dominates the exchange; the
    HAVING filter prunes the (overwhelming) singleton tail before any
    further join. No all-pairs anything — cost is linear in corpus
    tokens.
    """
    d = load(spark, sf_dir, "documents")
    spans = (d.filter(F.col("text").isNotNull())
              .filter(F.size(F.split(F.col("text"), r"\s+")) >= 5)
              .select("doc_id", "source",
                      F.explode(word_shingles(F.col("text"), 5))
                       .alias("span")))
    return (spans.groupBy("span")
            .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                 F.countDistinct("source").cast("bigint").alias("n_sources"),
                 F.min("doc_id").cast("bigint").alias("first_doc"))
            .filter(F.col("n_docs") >= 3))


@query(
    "bpe_pair_counts",
    oracle=r"""
    WITH words AS (
      SELECT unnest(str_split_regex(text, '\s+')) AS w
      FROM documents WHERE text IS NOT NULL),
    pairs AS (
      SELECT substr(w, i + 1, 2) AS pair
      FROM words, LATERAL (SELECT unnest(range(length(w) - 1)) AS i) s
      WHERE length(w) >= 2)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair ASC LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge step over the corpus: the 20 most frequent
    adjacent character pairs across all word occurrences (count
    multiplicity, not distinct — BPE merges by total frequency).
    Deterministic top-k: total order (cnt DESC, pair ASC) so both
    engines pick the same boundary rows.

    Scale: explode to (pair) rows then ONE hash aggregate with
    map-side combine; the key universe is at most alphabet^2 (tiny),
    so the post-partial shuffle moves a few thousand rows regardless
    of corpus size — the canonical associative-agg shape. The final
    top-20 is a TakeOrdered over the aggregated (tiny) set, not a
    global sort of the data.
    """
    d = load(spark, sf_dir, "documents")
    w = (d.filter(F.col("text").isNotNull())
          .select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
          .filter(F.length("w") >= 2))
    pairs = w.select(F.explode(F.expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .alias("pair"))
    return (pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(20))


@query(
    "dataset_manifest",
    oracle=r"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(str_split_regex(text, '\s+'))) AS BIGINT)
             AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lower(trim(regexp_replace(
                  text, '\s+', ' ', 'g')))) AS BIGINT) AS n_distinct,
           round(1.0 - COUNT(DISTINCT lower(trim(regexp_replace(
                  text, '\s+', ' ', 'g')))) * 1.0 / COUNT(*), 6)
             AS dup_rate,
           round(SUM(n_chars) * 1.0 / COUNT(*), 6) AS avg_chars
    FROM documents WHERE text IS NOT NULL
    GROUP BY lang, source
    """,
)
def dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(lang, source) data card: document / token / byte
    volume, exact-duplicate rate, and mean length — the table a
    curation run publishes so mixture decisions (`mixture_weights`,
    `temperature_resample`) read measured facts instead of folklore.

    Scale: single groupBy over low-cardinality keys; every aggregate
    is algebraic except the distinct-normalized-text count, which
    hash-partials per group (Spark plans count(distinct) via a
    two-phase Expand; key cardinality here is tiny so the rewrite is
    cheap). n_chars/token sums stay integer until one final double
    division, so parallel summation cannot drift from the serial
    oracle.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = normalize_text(F.col("text"))
    return (d.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.size(F.split(F.col("text"), r"\s+")))
                  .cast("bigint").alias("n_tokens"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.countDistinct(norm).cast("bigint").alias("n_distinct"),
                 F.round(1.0 - F.countDistinct(norm) / F.count(F.lit(1)), 6)
                  .alias("dup_rate"),
                 F.round(F.sum("n_chars") / F.count(F.lit(1)), 6)
                  .alias("avg_chars")))


@query(
    "skew_salted_join",
    oracle="""
    SELECT o.o_orderkey AS okey, o.o_custkey AS custkey,
           o.o_totalprice AS totalprice, c.c_name AS customer_name,
           c.c_mktsegment AS segment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted join (operators/skew.py) registered against the
    PLAIN join's oracle: salting must be invisible in the result. The
    fact side's hot keys are spread across salt_factor=8 shuffle
    buckets (salt = pmod(xxhash64(row), 8)); the dim side replicates 8x
    via an exploded literal array — no driver action, no extra scan.

    Scale: this is the fallback for joins where AQE's skew splitting
    can't act (hash-partitioned non-sort-merge plans, or a build side
    too big to broadcast but with few hot probe keys). The 8x dim
    fan-out is the explicit, bounded price; the win is that one
    hot customer's orders land on 8 reducers instead of one.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    fact = orders.select(F.col("o_orderkey").alias("okey"),
                         F.col("o_custkey").alias("custkey"),
                         F.col("o_totalprice").alias("totalprice"))
    dim = cust.select(F.col("c_custkey").alias("custkey"),
                      F.col("c_name").alias("customer_name"),
                      F.col("c_mktsegment").alias("segment"))
    return salted_join(fact, dim, "custkey", salt_factor=8)


@query(
    "skew_salted_agg",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py) against the
    plain GROUP BY oracle: partial counts per (key, salt) then a final
    combine per key must equal a direct count. event_type is exactly
    the shape that goes hot at 100 TB (a handful of values, one
    dominant); the salt bounds any single reducer's share of a hot
    key at 1/salt_factor of its rows.
    """
    return salted_agg_count(load(spark, sf_dir, "events"),
                            "event_type", salt_factor=8)


def _bpe_round_sql(k: int) -> str:
    """One BPE training round as SQL: count adjacent symbol pairs
    weighted by word frequency, pick the argmax (total order: count
    desc, pair asc), rewrite every sequence with the merged symbol.

    The rewrite is pure LITERAL string replace — no regex, so the two
    engines cannot diverge on match semantics. Boundary safety uses
    the space-doubling trick: double every separator, pad the ends,
    replace ' a  b ' -> ' ab ' (each occurrence owns its surrounding
    spaces even when occurrences are adjacent), then collapse the
    remaining doubles and trim."""
    return f""", p{k} AS (
      SELECT s[i + 1] AS a, s[i + 2] AS b, CAST(SUM(cnt) AS BIGINT) AS c
      FROM (SELECT str_split(seq, ' ') AS s, cnt FROM v{k - 1}) t,
           LATERAL (SELECT unnest(range(greatest(len(s) - 1, 0))) AS i) u
      GROUP BY 1, 2
    ), t{k} AS (
      SELECT a, b, c FROM p{k} ORDER BY c DESC, a ASC, b ASC LIMIT 1
    ), v{k} AS (
      SELECT trim(replace(replace(
               ' ' || replace(seq, ' ', '  ') || ' ',
               ' ' || t.a || '  ' || t.b || ' ',
               ' ' || t.a || t.b || ' '),
             '  ', ' ')) AS seq, cnt
      FROM v{k - 1}, t{k} t
    )"""


_BPE_ORACLE = r"""
    WITH words AS (
      SELECT unnest(str_split_regex(text, '\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    ), v0 AS (
      SELECT regexp_replace(w, '(.)', '\1 ', 'g') || '</w>' AS seq,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM words GROUP BY 1
    )""" + "".join(_bpe_round_sql(k) for k in (1, 2, 3)) + """
    SELECT CAST(1 AS INT) AS merge_round, a AS left_sym,
           b AS right_sym, a || b AS merged, c AS pair_count FROM t1
    UNION ALL
    SELECT CAST(2 AS INT), a, b, a || b, c FROM t2
    UNION ALL
    SELECT CAST(3 AS INT), a, b, a || b, c FROM t3
    """


@query("bpe_merge_train", oracle=_BPE_ORACLE)
def bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of actual BPE tokenizer training (Sennrich et al.
    2016) over the corpus word-frequency table: each round counts
    adjacent symbol pairs weighted by word frequency, merges the
    argmax pair corpus-wide, and the next round runs on the rewritten
    sequences. Output = the learned merge table (round, pair, count)
    — hash-matched against a DuckDB oracle that chains the same three
    rounds as CTEs. bpe_pair_counts above is the ONE-step statistic;
    this is the iterative loop tokenizer training actually runs.

    Exactness: pair selection is integer counts with a (count desc,
    pair asc) total order; the sequence rewrite is LITERAL
    space-doubled replace (no regex) so adjacent occurrences merge
    identically in both engines.

    Scale: BPE trains on the VOCABULARY (distinct words + counts),
    not the corpus — the only corpus-sized pass is the initial word
    count (map-side combinable). Each round shuffles |vocab| short
    sequences; the argmax is a TakeOrdered over the pair aggregate.
    The per-round driver action moves one 3-column row (the merge
    decision) — the same bounded-metadata pattern as kmeans'
    centroid collect; 10k merges = 10k tiny rounds on a real run,
    amortized by training on the vocab not the corpus.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = d.select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
    v = (words.groupBy(
            F.concat(F.regexp_replace(F.col("w"), "(.)", "$1 "),
                     F.lit("</w>")).alias("seq"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    pairs_expr = F.expr("""
        arrays_zip(slice(split(seq, ' '), 1, size(split(seq, ' ')) - 1),
                   slice(split(seq, ' '), 2, size(split(seq, ' ')) - 1))
    """)
    tops = []
    for k in (1, 2, 3):
        pr = (v.select("cnt", F.explode(pairs_expr).alias("p"))
               .groupBy(F.col("p").getField("0").alias("a"),
                        F.col("p").getField("1").alias("b"))
               .agg(F.sum("cnt").cast("bigint").alias("c")))
        top = pin(pr.orderBy(F.col("c").desc(), F.col("a").asc(),
                             F.col("b").asc())
                    .limit(1))  # one 3-col row/round
        tops.append(top.select(
            F.lit(k).cast("int").alias("merge_round"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.concat(F.col("a"), F.col("b")).alias("merged"),
            F.col("c").alias("pair_count")))
        padded = F.concat(F.lit(" "),
                          F.replace(F.col("seq"), F.lit(" "),
                                    F.lit("  ")),
                          F.lit(" "))
        pat = F.concat(F.lit(" "), F.col("a"), F.lit("  "), F.col("b"),
                       F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
        # rounds chain: keep the plan tree flat instead of nesting 3
        # rewrites deep
        v = pin(v.crossJoin(F.broadcast(top))
                 .select(F.trim(F.replace(F.replace(padded, pat, rep),
                                          F.lit("  "), F.lit(" ")))
                          .alias("seq"), "cnt"), eager=False)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out


_BPE_ENCODE_ORACLE = r"""
    WITH dwords AS (
      SELECT doc_id, unnest(str_split_regex(text, '\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    ), words AS (
      SELECT w FROM dwords
    ), v0 AS (
      SELECT regexp_replace(w, '(.)', '\1 ', 'g') || '</w>' AS seq,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM words GROUP BY 1
    )""" + "".join(_bpe_round_sql(k) for k in (1, 2, 3)) + r""", enc0 AS (
      SELECT DISTINCT w,
             regexp_replace(w, '(.)', '\1 ', 'g') || '</w>' AS seq
      FROM dwords
    )""" + "".join(f""", enc{k} AS (
      SELECT w, trim(replace(replace(
               ' ' || replace(seq, ' ', '  ') || ' ',
               ' ' || t.a || '  ' || t.b || ' ',
               ' ' || t.a || t.b || ' '),
             '  ', ' ')) AS seq
      FROM enc{k - 1}, t{k} t
    )""" for k in (1, 2, 3)) + """
    SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(str_split(e.seq, ' '))) AS BIGINT)
               AS n_bpe_tokens
    FROM dwords d JOIN enc3 e ON e.w = d.w
    GROUP BY 1
    """


@query("bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the BPE tokenizer loop: train the same 3
    merges as `bpe_merge_train` (identical loop, identical argmax
    total order), then ENCODE every document with them — each
    distinct word's character sequence is rewritten by the learned
    merges in order (the literal space-doubled replace, no regex),
    and each document reports its word count and resulting BPE token
    count. Train on the vocabulary, encode via the vocabulary, join
    back to the corpus — exactly how production tokenizers amortize
    (encode cost is per DISTINCT word, not per occurrence).

    The oracle chains training AND encoding as CTEs; output is pure
    integers. Together with `bpe_merge_train` this certifies the
    full train->apply tokenizer loop cross-engine.

    Scale: the corpus-sized passes are the word explode and the
    final (doc_id) re-aggregation — both map-side combinable. The
    merge rewrites touch only |vocab| rows per round with the 1-row
    merge decision broadcast in-plan; nothing quadratic, no Python.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    dwords = d.select("doc_id",
                      F.explode(F.split(F.col("text"), r"\s+"))
                       .alias("w"))
    seq0 = F.concat(F.regexp_replace(F.col("w"), "(.)", "$1 "),
                    F.lit("</w>"))
    v = (dwords.groupBy(seq0.alias("seq"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    pairs_expr = F.expr("""
        arrays_zip(slice(split(seq, ' '), 1, size(split(seq, ' ')) - 1),
                   slice(split(seq, ' '), 2, size(split(seq, ' ')) - 1))
    """)
    enc = dwords.select("w").distinct().withColumn("seq", seq0)
    for _ in (1, 2, 3):
        pr = (v.select("cnt", F.explode(pairs_expr).alias("p"))
               .groupBy(F.col("p").getField("0").alias("a"),
                        F.col("p").getField("1").alias("b"))
               .agg(F.sum("cnt").cast("bigint").alias("c")))
        top = pin(pr.orderBy(F.col("c").desc(), F.col("a").asc(),
                             F.col("b").asc())
                    .limit(1).select("a", "b"))

        def _rewrite(frame):
            padded = F.concat(F.lit(" "),
                              F.replace(F.col("seq"), F.lit(" "),
                                        F.lit("  ")),
                              F.lit(" "))
            pat = F.concat(F.lit(" "), F.col("a"), F.lit("  "),
                           F.col("b"), F.lit(" "))
            rep = F.concat(F.lit(" "), F.col("a"), F.col("b"),
                           F.lit(" "))
            rewritten = F.trim(F.replace(F.replace(padded, pat, rep),
                                         F.lit("  "), F.lit(" ")))
            keep = [c for c in frame.columns if c != "seq"]
            return (frame.crossJoin(F.broadcast(top))
                         .select(*keep, rewritten.alias("seq")))

        v = pin(_rewrite(v), eager=False)
        enc = pin(_rewrite(enc), eager=False)
    return (dwords.join(enc, "w")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.sum(F.size(F.split(F.col("seq"), " ")))
                  .cast("bigint").alias("n_bpe_tokens")))


@query(
    "k_anonymity_census",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT nation, segment, bal_band, n,
           n >= 5 AS k_anonymous,
           CAST(CASE WHEN n < 5 THEN n ELSE 0 END AS BIGINT)
               AS exposed_rows
    FROM cells
    """,
)
def k_anonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census over the customer quasi-identifier tuple
    (nation, market segment, account-balance band): every
    equivalence class with its size, the k>=5 verdict, and how many
    rows a class below k exposes — the privacy-governance primitive
    behind release decisions (Sweeney's k-anonymity; generalize the
    QI or suppress the exposed cells until every class passes). The
    balance band is integer floor(bal/1000) — the oracle-stable
    generalization step.

    Scale: one GROUP BY over the QI tuple (map-side combinable); the
    census is |distinct QI cells|, tiny relative to rows. Skewed
    cells aggregate before the shuffle — re-identification risk
    scanning at 100 TB costs one pass."""
    c = load(spark, sf_dir, "customer")
    cells = (c.groupBy(F.col("c_nationkey").alias("nation"),
                       F.col("c_mktsegment").alias("segment"),
                       F.floor(F.col("c_acctbal") / 1000.0)
                        .cast("bigint").alias("bal_band"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    return cells.select(
        "nation", "segment", "bal_band", "n",
        (F.col("n") >= 5).alias("k_anonymous"),
        F.when(F.col("n") < 5, F.col("n")).otherwise(F.lit(0))
         .cast("bigint").alias("exposed_rows"))


@query(
    "l_diversity_census",
    oracle="""
    WITH per AS (
      SELECT c_nationkey AS nation,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer GROUP BY 1, 2, 3
    ), cls AS (
      SELECT nation, bal_band,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS l,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM per GROUP BY nation, bal_band
    )
    SELECT nation, bal_band, n, l,
           l >= 3 AS l_diverse,
           ROUND(max_cnt / CAST(n AS DOUBLE), 6) AS top_share
    FROM cls
    """,
)
def l_diversity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity census (Machanavajjhala et al. 2007) — the standard
    companion to `k_anonymity_census`: a class can be k-anonymous yet
    leak its sensitive attribute if every member shares one value.
    Per quasi-identifier class (nation, balance band): size n, number
    of distinct sensitive values l (market segment as the sensitive
    attribute), the l>=3 verdict, and the top sensitive value's share
    (the attacker's posterior from a homogeneity attack).

    Scale: two chained map-side-combinable GROUP BYs — (QI, sensitive)
    counts, then a QI rollup; the census is |distinct QI x sensitive|
    rows mid-plan, tiny relative to the table. One pass at 100 TB."""
    c = load(spark, sf_dir, "customer")
    per = (c.groupBy(F.col("c_nationkey").alias("nation"),
                     F.floor(F.col("c_acctbal") / 1000.0)
                      .cast("bigint").alias("bal_band"),
                     F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    cls = (per.groupBy("nation", "bal_band")
           .agg(F.sum("cnt").cast("bigint").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("l"),
                F.max("cnt").cast("bigint").alias("max_cnt")))
    return cls.select(
        "nation", "bal_band", "n", "l",
        (F.col("l") >= 3).alias("l_diverse"),
        F.round(F.col("max_cnt") / F.col("n").cast("double"), 6)
         .alias("top_share"))
