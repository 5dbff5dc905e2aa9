"""Tier-19 queries (round 4): corpus diagnostics + curation scoring.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the
LLM-data-pipeline surface mandated by BASELINE.json with six
operators a 100 TB curation run reads weekly:

* Benford first-digit drift — the classic fabricated/synthetic-data
  smell test over a monetary column (Benford 1938; used exactly this
  way in data-quality suites);
* readability scoring — Flesch reading-ease / Flesch-Kincaid grade
  from whitespace words, vowel-group syllable proxies and terminal
  punctuation (Kincaid et al. 1975, public-domain formulas);
* Gopher quality rules — the document-level filter battery from
  Rae et al. 2021 (word-count bounds, mean word length, symbol
  ratio, alphabetic-word fraction, stopword presence);
* DSIR importance weights — hashed-unigram log-likelihood ratio of a
  target slice vs the raw corpus (Xie et al. 2023), the standard
  importance-resampling signal for domain-matched pretraining mixes;
* containment dedup — the asymmetric |A∩B|/|A| complement of n-gram
  Jaccard: catches a short document embedded inside a longer one,
  which symmetric Jaccard misses by construction;
* neighborhood Jaccard — supplier-supplier similarity from shared
  part neighborhoods (the bipartite-projection node-similarity
  primitive behind collaborative filtering and entity resolution).

Every query here is SQL-expressible and carries an exact DuckDB
oracle. Cross-engine float discipline follows the repo conventions:
transcendentals are rounded then DECIMAL-summed (accumulation-order
independence), shares divide pre-rounded operands, and all emitted
doubles are rounded well inside the checker's 9 dp comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.dedup import gram_set
from ..session import pin
from . import shared_sql
from .registry import query

# Benford expected first-digit probabilities log10(1 + 1/d), d=1..9,
# pre-rounded to 6 dp and shipped as literals to BOTH engines so the
# contract never depends on cross-engine log10 ulp agreement.
_BENFORD_P = [0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
              0.066947, 0.057992, 0.051153, 0.045757]


@query(
    "benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
    ), c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
    ), t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM c
    ), p AS (
      SELECT * FROM (VALUES
        (1, CAST(0.301030 AS DOUBLE)), (2, CAST(0.176091 AS DOUBLE)),
        (3, CAST(0.124939 AS DOUBLE)), (4, CAST(0.096910 AS DOUBLE)),
        (5, CAST(0.079181 AS DOUBLE)), (6, CAST(0.066947 AS DOUBLE)),
        (7, CAST(0.057992 AS DOUBLE)), (8, CAST(0.051153 AS DOUBLE)),
        (9, CAST(0.045757 AS DOUBLE))) AS v(digit, benford_p)
    )
    SELECT p.digit AS digit,
           coalesce(c.n, 0) AS n,
           round(coalesce(c.n, 0) * 1.0 / t.total, 6) AS share,
           p.benford_p AS benford_p,
           round(pow(round(coalesce(c.n, 0) * 1.0 / t.total, 6)
                     - p.benford_p, 2) / p.benford_p, 6) AS chi2_term
    FROM p LEFT JOIN c ON p.digit = c.digit, t
    """,
)
def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice against
    Benford's law, with the per-digit chi-square contribution.

    The leading digit is taken from the INTEGER cents value
    (round(price*100) -> bigint -> string -> first char): integer
    formatting is identical across engines, unlike double formatting
    or log10-based digit extraction, both of which have ulp traps.

    Scale: one map-side-combinable groupBy to 9 rows; everything
    after operates on a 9-row relation with the grand total attached
    as a broadcast 1-row aggregate (audited scalar-attach pattern,
    tools/explain_audit.py). Cost at 100 TB = one scan + one
    9-key shuffle.
    """
    o = load(spark, sf_dir, "orders")
    digit = (F.substring(F.round(F.col("o_totalprice") * 100, 0)
                          .cast("bigint").cast("string"), 1, 1)
             .cast("int"))
    c = (o.groupBy(digit.alias("digit"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    t = c.agg(F.sum("n").cast("bigint").alias("_total"))
    p = (spark.range(1, 10)
         .select(F.col("id").cast("int").alias("digit"),
                 F.element_at(F.array(*[F.lit(x) for x in _BENFORD_P]),
                              F.col("id").cast("int"))
                  .alias("benford_p")))
    n = F.coalesce(F.col("n"), F.lit(0).cast("bigint"))
    share = F.round(n * F.lit(1.0) / F.col("_total"), 6)
    return (p.join(c, "digit", "left")
             .crossJoin(F.broadcast(t))
             .select("digit", n.alias("n"), share.alias("share"),
                     "benford_p",
                     F.round(F.pow(share - F.col("benford_p"), 2)
                             / F.col("benford_p"), 6)
                      .alias("chi2_term")))


@query(
    "readability_score",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             len(str_split_regex(text, '\s+')) AS nw,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS nsyl,
             greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS nsent
      FROM documents
    )
    SELECT doc_id,
           CAST(nw AS BIGINT) AS n_words,
           CAST(nsyl AS BIGINT) AS n_syllables,
           CAST(nsent AS BIGINT) AS n_sentences,
           floor((CAST(206.835 AS DOUBLE)
                  - CAST(1.015 AS DOUBLE) * nw / nsent
                  - CAST(84.6 AS DOUBLE) * nsyl / greatest(nw, 1))
                 * 1e4 + 0.5) / 1e4 AS flesch_ease,
           floor((CAST(0.39 AS DOUBLE) * nw / nsent
                  + CAST(11.8 AS DOUBLE) * nsyl / greatest(nw, 1)
                  - CAST(15.59 AS DOUBLE))
                 * 1e4 + 0.5) / 1e4 AS fk_grade
    FROM s
    """,
)
def readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document.
    Syllables are approximated by vowel-group runs ([aeiouy]+) and
    sentences by terminal punctuation (min 1) — the standard cheap
    proxies when no dictionary is shippable to executors.

    Scale: pure per-row JVM regexp/arithmetic inside whole-stage
    codegen — no shuffle, no Python. Cross-engine float parity needs
    TWO disciplines here (both bitten during bring-up): (1) the
    oracle literals are CAST(... AS DOUBLE) — a bare 1.015 is a
    DuckDB DECIMAL, which silently switches the whole formula to
    exact decimal arithmetic while Spark computes doubles; (2) the
    4 dp rounding is the explicit floor(x*1e4+0.5)/1e4 idiom, since
    Spark's ROUND(double) rounds the SHORTEST decimal repr
    (BigDecimal.valueOf) while DuckDB rounds the exact binary
    expansion (same fix as tpch_q1's sum_charge, ORACLE_r04.md).
    Operand order is written identically in both engines — IEEE ops
    are deterministic given the same association.
    """
    d = load(spark, sf_dir, "documents")
    nw = F.size(F.split(F.col("text"), r"\s+"))
    nsyl = F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                       F.lit("[aeiouy]+"), 0))
    nsent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), 0)),
        F.lit(1))
    s = d.select("doc_id", nw.alias("nw"), nsyl.alias("nsyl"),
                 nsent.alias("nsent"))
    nw_, nsyl_, nsent_ = F.col("nw"), F.col("nsyl"), F.col("nsent")
    nw_safe = F.greatest(nw_, F.lit(1))
    return s.select(
        "doc_id",
        nw_.cast("bigint").alias("n_words"),
        nsyl_.cast("bigint").alias("n_syllables"),
        nsent_.cast("bigint").alias("n_sentences"),
        (F.floor((F.lit(206.835)
                  - F.lit(1.015) * nw_ / nsent_
                  - F.lit(84.6) * nsyl_ / nw_safe)
                 * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4))
         .alias("flesch_ease"),
        (F.floor((F.lit(0.39) * nw_ / nsent_
                  + F.lit(11.8) * nsyl_ / nw_safe
                  - F.lit(15.59)) * F.lit(1e4) + F.lit(0.5))
         / F.lit(1e4))
         .alias("fk_grade"))


@query(
    "gopher_rules",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             str_split_regex(text, '\s+') AS w,
             length(regexp_replace(text, '\s', '', 'g')) AS nc,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS nsym,
             len(list_distinct(regexp_extract_all(lower(text),
                 '\b(the|a|of|and|is|to)\b'))) AS nstop
      FROM documents
    ), m AS (
      SELECT doc_id, len(w) AS nw, nc, nsym, nstop,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                 AS nalpha
      FROM s
    )
    SELECT doc_id,
           CAST(nw AS BIGINT) AS n_words,
           round(nc * 1.0 / greatest(nw, 1), 6) AS mean_word_len,
           nw BETWEEN 50 AND 100000 AS ok_word_count,
           (nc * 1.0 / greatest(nw, 1)) BETWEEN 3.0 AND 10.0
               AS ok_mean_len,
           nsym * 1.0 / greatest(nw, 1) < 0.1 AS ok_symbol_ratio,
           nalpha * 1.0 / greatest(nw, 1) > 0.8 AS ok_alpha_frac,
           nstop >= 2 AS ok_stopwords,
           (nw BETWEEN 50 AND 100000)
             AND ((nc * 1.0 / greatest(nw, 1)) BETWEEN 3.0 AND 10.0)
             AND (nsym * 1.0 / greatest(nw, 1) < 0.1)
             AND (nalpha * 1.0 / greatest(nw, 1) > 0.8)
             AND (nstop >= 2) AS pass_gopher
    FROM m
    """,
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality battery (Rae et al. 2021 §A1.1):
    word-count bounds [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio < 0.1, alphabetic-word fraction > 0.8, and
    >= 2 distinct stopwords present. Emits each verdict separately
    (curation pipelines track WHICH rule fired — cf. filter_reasons)
    plus the conjunction.

    Scale: per-row regexp/array expressions, zero shuffles. The
    ratios compare exact IEEE divisions identically ordered in both
    engines; boundary equality (e.g. mean length exactly 3.0) is
    bit-reproducible because both engines perform the same int->
    double division.
    """
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), r"\s+")
    s = d.select(
        "doc_id", w.alias("w"),
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).alias("nc"),
        F.size(F.regexp_extract_all(F.col("text"),
                                    F.lit(r"[^A-Za-z0-9\s]"), 0))
         .alias("nsym"),
        F.size(F.array_distinct(F.regexp_extract_all(
            F.lower(F.col("text")),
            F.lit(r"\b(the|a|of|and|is|to)\b"), 0))).alias("nstop"))
    m = s.select(
        "doc_id", F.size("w").alias("nw"), "nc", "nsym", "nstop",
        F.size(F.filter(F.col("w"), lambda x: x.rlike("[A-Za-z]")))
         .alias("nalpha"))
    nw1 = F.greatest(F.col("nw"), F.lit(1))
    mean_len = F.col("nc") * F.lit(1.0) / nw1
    ok_wc = (F.col("nw") >= 50) & (F.col("nw") <= 100000)
    ok_ml = (mean_len >= 3.0) & (mean_len <= 10.0)
    ok_sym = F.col("nsym") * F.lit(1.0) / nw1 < 0.1
    ok_alpha = F.col("nalpha") * F.lit(1.0) / nw1 > 0.8
    ok_stop = F.col("nstop") >= 2
    return m.select(
        "doc_id",
        F.col("nw").cast("bigint").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        ok_wc.alias("ok_word_count"),
        ok_ml.alias("ok_mean_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_frac"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_ml & ok_sym & ok_alpha & ok_stop)
         .alias("pass_gopher"))


@query(
    "dsir_weights",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, lang, UNNEST(str_split_regex(text, '\s+')) AS wd
      FROM documents
    ), feats AS (
      SELECT doc_id, lang,
             (ascii(substr(wd, 1, 1)) * 31 + length(wd)) % 64 AS b
      FROM words
    ), raw AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM feats GROUP BY b
    ), tgt AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM feats
      WHERE lang = 'en' GROUP BY b
    ), tot AS (
      SELECT (SELECT CAST(SUM(rc) AS BIGINT) FROM raw) AS rt,
             (SELECT CAST(SUM(tc) AS BIGINT) FROM tgt) AS tt
    ), lr AS (
      SELECT raw.b AS b,
             CAST(round(ln(CAST(coalesce(tgt.tc, 0) + 1 AS DOUBLE)
                           / (tot.tt + 64))
                        - ln(CAST(raw.rc + 1 AS DOUBLE)
                             / (tot.rt + 64)), 9)
                  AS DECIMAL(18,9)) AS logratio
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot
    )
    SELECT f.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(round(SUM(lr.logratio), 6) AS DOUBLE) AS dsir_logweight
    FROM feats f JOIN lr ON f.b = lr.b
    GROUP BY f.doc_id
    """,
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-document
    log-likelihood ratio of a target slice (lang='en' here) vs the
    raw corpus under hashed-unigram bag-of-words models with add-1
    smoothing over 64 feature buckets. High-weight documents "look
    like" the target domain — the resampling signal for building
    domain-matched pretraining mixtures.

    The bucket hash (ascii(first char)*31 + length) % 64 is chosen
    for exact cross-engine portability (Spark xxhash64 and DuckDB
    hash() disagree); swap in xxhash64 % k on a real deployment.

    Scale: bucket stats are a 64-row relation built by one
    map-side-combinable pass; scoring joins the corpus to the
    broadcast 64-row log-ratio table — no corpus-sized shuffle except
    the final per-doc aggregation. Per-bucket log ratios are rounded
    to 9 dp then DECIMAL-summed so parallel accumulation order can't
    perturb the result (same discipline as unigram_logprob), and the
    6 dp output rounding happens ON the exact decimal sum before the
    double cast — the sum can land on a true 6 dp tie (one did at
    sf1: 0.0651595), and rounding after a lossy double cast resolves
    such ties differently per engine.
    """
    d = load(spark, sf_dir, "documents")
    words = d.select("doc_id", "lang",
                     F.explode(F.split(F.col("text"), r"\s+")).alias("wd"))
    # r13: pin the bucketed token frame (it feeds the bucket census
    # AND the scoring join — the tokenize ran once per consumer
    # before), and take raw+target counts in ONE pass (count +
    # count_if instead of two corpus aggregations; a bucket with no
    # 'en' tokens yields tc = 0, exactly what the old left join's
    # COALESCE produced)
    feats = pin(words.select(
        "doc_id", "lang",
        ((F.ascii(F.substring(F.col("wd"), 1, 1)) * 31
          + F.length(F.col("wd"))) % 64).alias("b")), eager=False)
    stats = feats.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("rc"),
        F.count_if(F.col("lang") == "en").cast("bigint").alias("tc"))
    rt = stats.agg(F.sum("rc").cast("bigint").alias("_rt"))
    tt = stats.agg(F.sum("tc").cast("bigint").alias("_tt"))
    lr = (stats
             .crossJoin(F.broadcast(rt)).crossJoin(F.broadcast(tt))
             .select("b",
                     F.round(
                         F.log((F.col("tc")
                                + F.lit(1.0))
                               / (F.col("_tt") + F.lit(64)))
                         - F.log((F.col("rc") + F.lit(1.0))
                                 / (F.col("_rt") + F.lit(64))), 9)
                      .cast("decimal(18,9)").alias("logratio")))
    return (feats.join(F.broadcast(lr), "b")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.round(F.sum("logratio"), 6).cast("double")
                  .alias("dsir_logweight")))


@query(
    "containment_dedup",
    oracle=f"""
    WITH {shared_sql.NGRAM_GRAM_CTES}, inter AS (
      SELECT a.doc_id AS id_src, b.doc_id AS id_dst, count(*) AS ni
      FROM tri a JOIN tri b
        ON a.g = b.g AND a.source = b.source AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_src, i.id_dst,
           CAST(i.ni AS BIGINT) AS shared_grams,
           round(i.ni * 1.0 / ca.n, 6) AS containment
    FROM inter i JOIN counts ca ON ca.doc_id = i.id_src
    WHERE i.ni * 1.0 / ca.n >= 0.5
    """,
)
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment |A∩B| / |A| within a same-source
    block: flags documents (id_src) whose 3-gram set is >=50%
    contained in another document (id_dst). Catches quote-expansion
    and excerpt-in-article duplication that symmetric Jaccard
    underscores — |A∩B|/|A∪B| stays small when |B| >> |A| even with
    A fully contained (Broder 1997 distinguishes resemblance from
    containment for exactly this reason).

    Scale: identical candidate-bounding to ngram_jaccard_dedup —
    pairs materialize only via the (gram, source) equi-join, never
    all-pairs; the gram set is built once (lineage-truncated) and
    feeds both join sides and the per-doc counts.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tri = gram_set(d)
    counts = tri.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a, b = tri.alias("a"), tri.alias("b")
    inter = (a.join(b, (F.col("a._g") == F.col("b._g"))
                    & (F.col("a._blk") == F.col("b._blk"))
                    & (F.col("a._id") != F.col("b._id")))
              .groupBy(F.col("a._id").alias("id_src"),
                       F.col("b._id").alias("id_dst"))
              .agg(F.count(F.lit(1)).alias("_ni")))
    ca = counts.select(F.col("_id").alias("id_src"),
                       F.col("_n").alias("_na"))
    cont = F.col("_ni") * F.lit(1.0) / F.col("_na")
    return (inter.join(ca, "id_src")
                 .filter(cont >= 0.5)
                 .select("id_src", "id_dst",
                         F.col("_ni").cast("bigint").alias("shared_grams"),
                         F.round(cont, 6).alias("containment")))


@query(
    "neighbor_jaccard",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), deg AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY s
    ), co AS (
      SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2
    ), sym AS (
      SELECT s1 AS src, s2 AS dst, shared FROM co WHERE shared >= 2
      UNION ALL
      SELECT s2 AS src, s1 AS dst, shared FROM co WHERE shared >= 2
    ), scored AS (
      SELECT sym.src, sym.dst, sym.shared,
             floor(CAST(sym.shared AS DOUBLE)
                   / (da.d + db.d - sym.shared) * 1e6 + 0.5) / 1e6
                 AS jaccard
      FROM sym JOIN deg da ON da.s = sym.src
               JOIN deg db ON db.s = sym.dst
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY src
               ORDER BY jaccard DESC, shared DESC, dst ASC) AS rk
      FROM scored
    )
    SELECT src, dst, shared, jaccard, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 10
    """,
)
def neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier top-10 most-similar suppliers by Jaccard over
    shared part neighborhoods (bipartite projection). The
    node-similarity primitive behind item-item collaborative
    filtering and entity-resolution blocking — emitted as top-k per
    node, because the full pair list is quadratic on dense graphs
    (at sf0.1 EVERY supplier pair shares >= 2 parts: 499 500 rows;
    top-k keeps output linear in nodes at any scale).

    Scale: candidate pairs are generated ONLY through the part-key
    equi-join (volume = sum over parts of deg² — bounded by the
    ~4-suppliers-per-part TPC-H fan-out), never a supplier cross
    join — and hub parts are BLOCK-expanded
    (`operators.skew.blocked_copair_count`, round 8): a part whose
    supplier list exceeds the block size has its C(deg, 2) pair
    output spread over nblk(nblk+1)/2 distinct join keys instead of
    serializing on one task (the 1.6x single-task residual
    BENCH_skew.md §3 measured on the Zipf-1.2 fixture — AQE can't
    split it because skew detection sees join inputs, not the
    quadratic output). Degrees attach from a broadcast
    |suppliers|-row aggregate; the per-node top-10 is one
    partitioned window (rank cutoff pushes down as WindowGroupLimit,
    so no node's full neighbor list is ever sorted in memory).
    Jaccard is floor-rounded at 6 dp BEFORE the rank ordering so the
    (jaccard, shared, dst) sort key is bit-identical across engines.
    """
    from pyspark.sql import Window

    from ..operators.skew import blocked_copair_count

    li = load(spark, sf_dir, "lineitem")
    e = pin(li.select(F.col("l_suppkey").alias("s"),
                      F.col("l_partkey").alias("p"))
              .distinct(), eager=False)
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    # truncate before the symmetrizing union: co feeds both branches,
    # and the part-key self-join + shuffled groupBy (the expensive
    # stage) must not re-run per branch
    co = pin(blocked_copair_count(e, key="p", member="s",
                                  out_1="s1", out_2="s2", out_n="shared")
             .filter(F.col("shared") >= 2), eager=False)
    sym = (co.select(F.col("s1").alias("src"), F.col("s2").alias("dst"),
                     "shared")
             .unionAll(co.select(F.col("s2").alias("src"),
                                 F.col("s1").alias("dst"), "shared")))
    da = deg.select(F.col("s").alias("src"), F.col("d").alias("_da"))
    db = deg.select(F.col("s").alias("dst"), F.col("d").alias("_db"))
    jac = (F.floor(F.col("shared").cast("double")
                   / (F.col("_da") + F.col("_db") - F.col("shared"))
                   * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
    w = Window.partitionBy("src").orderBy(
        F.col("jaccard").desc(), F.col("shared").desc(),
        F.col("dst").asc())
    return (sym.join(F.broadcast(da), "src").join(F.broadcast(db), "dst")
               .select("src", "dst", "shared", jac.alias("jaccard"))
               .withColumn("rk", F.row_number().over(w).cast("int"))
               .filter(F.col("rk") <= 10)
               .select("src", "dst", "shared", "jaccard", "rk"))
