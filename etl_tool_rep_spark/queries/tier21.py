"""Tier 21 — the sketch / near-dup family behind the EXACT oracle
gate via portable integer hashing.

The production sketch operators (operators/dedup.py minhash,
operators/sketches.py CMS/HLL, simhash) use Spark's ``xxhash64`` —
fast, but engine-specific, so those keys are rows-only. This tier
re-expresses each ALGORITHM with a portable hash family — the
Karp-Rabin Horner fold over character codepoints mod 1e9+7 that
``rolling_fingerprint`` already certifies cross-engine, composed with
affine permutations ``(a*h + b) mod p`` whose constants are embedded
as identical literals in BOTH engines — so every stage (shingling,
permutation minima, banding, bucket self-join, verification,
sketch cells, register maxima) is exact integer arithmetic that
DuckDB reproduces bit-for-bit. That upgrades MinHash-LSH, SimHash,
Count-Min and HyperLogLog from rows-only property checks to full
rows+schema+value-hash oracle matches.

Every output column is an integer, boolean, or a double produced by
the floor(x*1eN+0.5)/1eN idiom from identically-associated exact
operands — zero float-accumulation surface (see
cross-engine-float-parity rules in the repo docs).

Reference parity note: the reference app (main.py) has no sketch
surface; these keys extend the training-data-pipeline tier mandated
by the build brief (dedup / cardinality / frequency at 100 TB).
"""
from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.text import ROLLING_HASH_MOD as _P  # Karp-Rabin modulus
from ..session import pin
from .registry import query

_CHAR_BASE = 31         # per-character Horner base (matches operators/text)
_WORD_BASE = 1_000_003  # word-combine base (keeps a*h < 2^63)

# Deterministic affine permutations, embedded as literals on BOTH
# engines. Seeded PRNG at import time — same values every run.
_rng = random.Random(0x5EED5)
_K = 16                                   # minhash permutations
_PERMS = [(_rng.randrange(1, _P), _rng.randrange(0, _P))
          for _ in range(_K)]
_BANDS, _ROWS = 4, 4                      # 4 bands x 4 rows

_CMS_D, _CMS_W = 4, 128                   # count-min depth x width
_CMS_PERMS = [(_rng.randrange(1, _P), _rng.randrange(0, _P))
              for _ in range(_CMS_D)]

_HLL_M = 64                               # HLL registers
_HLL_A, _HLL_B = (_rng.randrange(1, _P), _rng.randrange(0, _P))
# alpha_m * m^2 * 2^45 as ONE decimal literal both engines parse to
# the same double (decimal->double parse is correctly rounded).
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_NUM = repr(_HLL_ALPHA * _HLL_M * _HLL_M * float(2 ** 45))

_SIM_BITS = 30                            # simhash signature width
_SIM_HAM = 2                              # max Hamming distance
_SIM_BANDW = 10                           # 3 bands x 10 bits


# ---------------------------------------------------------------------------
# shared building blocks
# ---------------------------------------------------------------------------

def _with_shingles(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, source, _sh: array<bigint>) where _sh is
    the DISTINCT word-3-gram hash set. Word hash = Horner fold over
    codepoints mod p (the rolling_fingerprint kernel, per word);
    shingle hash = Horner fold over its three word hashes with base
    1e6+3. Entirely JVM-side higher-order functions — one narrow map,
    no shuffle, no Python."""
    w = F.filter(F.split(F.col("text"), r"\s+"),
                 lambda x: x != F.lit(""))
    wh = F.expr(
        "transform(_w, s -> aggregate("
        "  transform(sequence(1, length(s)),"
        "            i -> ascii(substring(s, i, 1))),"
        f" cast(0 as bigint),"
        f" (acc, c) -> pmod(acc * {_CHAR_BASE} + c, {_P})))")
    sh = F.expr(
        "array_distinct(transform(sequence(1, size(_wh) - 2), i -> "
        f"pmod(pmod(element_at(_wh, i) * {_WORD_BASE}"
        f"          + element_at(_wh, i + 1), {_P})"
        f"     * {_WORD_BASE} + element_at(_wh, i + 2), {_P})))")
    return (docs.filter(F.col("text").isNotNull())
                .withColumn("_w", w)
                .filter(F.size("_w") >= 3)
                .withColumn("_wh", wh)
                .select("doc_id", "source", sh.alias("_sh")))


# The same word-hash / shingle set in DuckDB. range(1, n) is
# stop-exclusive (i = 1..n-1) where Spark's sequence(1, n) is
# inclusive — bounds below account for the difference. Lists are
# 1-indexed in both engines.
_WH_CTES = f"""
    w AS (
      SELECT doc_id, source,
             list_filter(str_split_regex(text, '\\s+'),
                         x -> x <> '') AS w
      FROM documents WHERE text IS NOT NULL
    ), wh AS (
      SELECT doc_id, source,
             list_transform(w, s -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(s) + 1),
                                i -> CAST(ascii(substr(s, i, 1))
                                          AS BIGINT))),
               (acc, c) -> (acc * {_CHAR_BASE} + c) % {_P})) AS wh
      FROM w WHERE len(w) >= 3
    )"""

_SH_CTES = _WH_CTES + f""", sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, len(wh) - 1),
               i -> (((wh[i] * {_WORD_BASE} + wh[i + 1]) % {_P})
                     * {_WORD_BASE} + wh[i + 2]) % {_P})) AS sh
      FROM wh
    )"""


# ---------------------------------------------------------------------------
# minhash_lsh_exact
# ---------------------------------------------------------------------------

_MH_LIST_SQL = ", ".join(
    f"list_min(list_transform(sh, h -> ({a} * h + {b}) % {_P}))"
    for a, b in _PERMS)


def _band_key_sql(col: str, b: str) -> str:
    """Fold rows-per-band minhashes into one BIGINT bucket key."""
    expr = f"{col}[{_ROWS} * {b} + 1]"
    for i in range(2, _ROWS + 1):
        expr = (f"(({expr}) * {_WORD_BASE}"
                f" + {col}[{_ROWS} * {b} + {i}]) % {_P}")
    return expr


# the signature / band CTEs: `mh` holds each doc's 16 permutation
# minima, `bands` one (doc_id, band, bkey) row per band
_BANDS_CTE = f"""bands AS (
      SELECT doc_id, t.b AS band,
             {_band_key_sql('mh', 't.b')} AS bkey
      FROM mh, (SELECT unnest(range({_BANDS})) AS b) t
    )"""

_MH_CTES = f"""{_SH_CTES}, mh AS (
      SELECT doc_id, [{_MH_LIST_SQL}] AS mh FROM sh
    ), {_BANDS_CTE}"""

# candidate pairs: two docs sharing any band bucket
_CAND_CTE = """cand AS (
      SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id
    )"""

_MINHASH_ORACLE = f"""
    WITH {_MH_CTES}, {_CAND_CTE}
    SELECT c.id_1, c.id_2,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT)
               AS inter_sh,
           CAST(len(sa.sh) + len(sb.sh)
                - len(list_intersect(sa.sh, sb.sh)) AS BIGINT)
               AS union_sh,
           2 * len(list_intersect(sa.sh, sb.sh))
             >= len(sa.sh) + len(sb.sh)
                - len(list_intersect(sa.sh, sb.sh)) AS is_dup
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_1
    JOIN sh sb ON sb.doc_id = c.id_2
    """


def _signatures(sh: DataFrame) -> DataFrame:
    """Add ``_mh``: the 16 affine-permutation minima of ``_sh``."""
    def _perm_min(a: int, b: int):
        # one-arg lambda via closure: PySpark maps the Python arity
        # onto the HOF arity, so default-arg tricks break analysis
        return F.array_min(F.transform(
            F.col("_sh"),
            lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P))))

    return sh.withColumn("_mh", F.array(*[_perm_min(a, b)
                                          for a, b in _PERMS]))


def _band_rows(mh: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): each band's rows of ``_mh`` folded into
    one BIGINT bucket key, the fold ``_band_key_sql`` states in SQL."""
    bkeys = []
    for b in range(_BANDS):
        acc = F.element_at("_mh", _ROWS * b + 1)
        for i in range(2, _ROWS + 1):
            acc = F.pmod(acc * F.lit(_WORD_BASE)
                         + F.element_at("_mh", _ROWS * b + i),
                         F.lit(_P))
        bkeys.append(acc)
    return mh.select("doc_id",
                     F.posexplode(F.array(*bkeys)).alias("band", "bkey"))


def _candidate_pairs(bands: DataFrame) -> DataFrame:
    """(id_1 < id_2) doc pairs sharing any band bucket."""
    return (bands.alias("a")
            .join(bands.alias("b"), ["band", "bkey"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_1"),
                    F.col("b.doc_id").alias("id_2"))
            .distinct())


@query("minhash_lsh_exact", oracle=_MINHASH_ORACLE)
def minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates with EXACT cross-engine
    verification: 16 affine permutations over the portable shingle
    hashes, banded 4x4; docs sharing any band bucket become candidate
    pairs; each pair is verified with the exact distinct-shingle
    intersection. Output is pure integers/booleans (intersection,
    union, Jaccard>=0.5 verdict) — DuckDB replays the identical
    pipeline and the value hashes must agree.

    This certifies the minhash ALGORITHM (permutation minima, banding
    arithmetic, bucket self-join, verify) across engines; the
    production key `near_dedup_minhash` (operators/dedup.py) keeps
    the fused xxhash64 kernel as the throughput path.

    Scale: everything through banding is a narrow map (per-row array
    ops, no shuffle). The band self-join shuffles ONLY (band, bkey,
    doc_id) tuples — 4 rows per doc — and pair work is confined to
    equal-bucket groups, the whole point of LSH at 100 TB. Verify
    joins are candidate-bounded. Identical docs make identical
    buckets (bounded by true dup-cluster size, same posture as
    operators/dedup.minhash_lsh_pairs)."""
    # r13: pin the shingle table — it feeds the banded self-join's
    # two sides AND both verify attaches (4 plan copies of the
    # tokenize+shingle pass before the pin; multi-consumer recompute,
    # BENCH_r12_note pattern)
    sh = pin(_with_shingles(load(spark, sf_dir, "documents"))
             .select("doc_id", "_sh"), eager=False)
    # pin the banded keys too: the self-join's two sides otherwise
    # re-run the 16-permutation minima per side (4 rows per doc —
    # metadata-sized)
    banded = pin(_band_rows(_signatures(sh)), eager=False)
    cand = _candidate_pairs(banded)
    sa = sh.select(F.col("doc_id").alias("id_1"),
                   F.col("_sh").alias("_sa"))
    sb = sh.select(F.col("doc_id").alias("id_2"),
                   F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("bigint")
    tot = (F.size("_sa") + F.size("_sb")).cast("bigint")
    return (cand.join(sa, "id_1").join(sb, "id_2")
            .select("id_1", "id_2",
                    inter.alias("inter_sh"),
                    (tot - inter).alias("union_sh"),
                    (F.lit(2) * inter >= tot - inter).alias("is_dup")))


# ---------------------------------------------------------------------------
# cms_exact
# ---------------------------------------------------------------------------

_CMS_VALUES = ", ".join(f"({j}, {a}, {b})"
                        for j, (a, b) in enumerate(_CMS_PERMS))

_CMS_ORACLE = f"""
    WITH items AS (
      SELECT user_id AS u FROM events WHERE user_id IS NOT NULL
    ), cells AS (
      SELECT p.j, (p.a * (i.u % {_P}) + p.b) % {_P} % {_CMS_W} AS bkt,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM items i, (VALUES {_CMS_VALUES}) p(j, a, b)
      GROUP BY 1, 2
    ), truth AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM items GROUP BY u
    ), est AS (
      SELECT t.u, t.true_cnt, MIN(c.c) AS cms_cnt
      FROM truth t
      CROSS JOIN (VALUES {_CMS_VALUES}) AS p(j, a, b)
      JOIN cells c
        ON c.j = p.j AND c.bkt = (p.a * (t.u % {_P}) + p.b)
                                 % {_P} % {_CMS_W}
      GROUP BY 1, 2
    )
    SELECT u AS user_id, true_cnt, cms_cnt,
           cms_cnt >= true_cnt AS over_ok
    FROM est
    """


@query("cms_exact", oracle=_CMS_ORACLE)
def cms_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch behind the exact oracle: a 4x128 sketch over
    event user_ids built with portable affine hashes, then every
    distinct user's estimate (min over the 4 rows of its cells) is
    joined against its true count. CMS never under-counts, so
    `over_ok` must be uniformly true — and DuckDB building the SAME
    sketch must produce the SAME per-user estimates, cell for cell.

    The rows-only `cms_freq` keeps the production operator
    (operators/sketches.py, xxhash64); this key certifies the
    sketch's bucket arithmetic and min-estimate read path.

    Scale: the sketch build is one groupBy over d x width <= 512
    cells (map-side partial agg collapses each partition to <= 512
    rows); the estimate pass touches only DISTINCT keys x depth and
    joins against the tiny cell table (broadcast at any scale)."""
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull())
          .select(F.col("user_id").alias("u")))
    perms = F.array(*[
        F.struct(F.lit(j).alias("j"), F.lit(a).alias("a"),
                 F.lit(b).alias("b"))
        for j, (a, b) in enumerate(_CMS_PERMS)])
    bkt = F.pmod(F.pmod(F.col("p.a") * F.pmod(F.col("u"), F.lit(_P))
                        + F.col("p.b"), F.lit(_P)), F.lit(_CMS_W))
    cells = (ev.withColumn("p", F.explode(perms))
               .groupBy(F.col("p.j").alias("j"), bkt.alias("bkt"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    truth = (ev.groupBy("u")
               .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt")))
    probes = (truth.withColumn("p", F.explode(perms))
                   .select("u", "true_cnt", F.col("p.j").alias("j"),
                           bkt.alias("bkt")))
    est = (probes.join(F.broadcast(cells), ["j", "bkt"])
                 .groupBy("u", "true_cnt")
                 .agg(F.min("c").alias("cms_cnt")))
    return est.select(F.col("u").alias("user_id"), "true_cnt",
                      "cms_cnt",
                      (F.col("cms_cnt") >= F.col("true_cnt"))
                      .alias("over_ok"))


# ---------------------------------------------------------------------------
# hll_exact
# ---------------------------------------------------------------------------

_HLL_ORACLE = f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             ({_HLL_A} * (user_id % {_P}) + {_HLL_B}) % {_P} AS h
      FROM events WHERE user_id IS NOT NULL
    ), regs AS (
      SELECT event_type, h % {_HLL_M} AS reg,
             MAX(CASE WHEN h // {_HLL_M} = 0 THEN 25
                 ELSE bit_count(((h // {_HLL_M}) & -(h // {_HLL_M}))
                                - 1) + 1 END) AS rho
      FROM hashed GROUP BY 1, 2
    ), allregs AS (
      SELECT et.event_type, t.reg,
             COALESCE(r.rho, 0) AS rho
      FROM (SELECT DISTINCT event_type FROM events
            WHERE user_id IS NOT NULL) et
      CROSS JOIN (SELECT unnest(range({_HLL_M})) AS reg) t
      LEFT JOIN regs r ON r.event_type = et.event_type
                      AND r.reg = t.reg
    ), s AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << (45 - rho)) AS BIGINT)
                 AS s
      FROM allregs GROUP BY 1
    ), truth AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_true
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT t.event_type, t.n_true,
           floor({_HLL_NUM} / CAST(s.s AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS hll_est,
           abs({_HLL_NUM} / CAST(s.s AS DOUBLE) - t.n_true)
             <= 0.5 * t.n_true AS rel_ok
    FROM truth t JOIN s ON s.event_type = t.event_type
    """


@query("hll_exact", oracle=_HLL_ORACLE)
def hll_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog behind the exact oracle: 64 registers over a
    portable affine hash of user_id, per event_type. The register
    index is h mod 64; the rank is the trailing-zero count of h/64
    computed EXACTLY as bit_count((v & -v) - 1) + 1 — no log2, no
    float. The harmonic sum is carried as the INTEGER
    sum(2^(45 - rho)) (max 64 * 2^45 = 2^51, inside BIGINT), so the
    only float ops are one literal/int division and the floor-idiom
    rounding — identically associated in both engines, hence
    bit-identical. `rel_ok` asserts the raw estimate lands within
    50% of truth (m=64 raw HLL without corrections; the production
    `hll_sketch_merge` keeps Spark's HLL++).

    Scale: one distinct-hash shuffle, then registers collapse to
    (groups x 64) rows; the register densification join is against a
    64-row literal sequence. Mergeability is the register MAX —
    associative, partial-agg friendly."""
    ev = (load(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()))
    h = F.pmod(F.lit(_HLL_A) * F.pmod(F.col("user_id"), F.lit(_P))
               + F.lit(_HLL_B), F.lit(_P))
    hashed = ev.select("event_type", h.alias("h")).distinct()
    v = F.expr(f"h div {_HLL_M}")
    rho = (F.when(v == 0, F.lit(25))
            .otherwise(F.bit_count(v.bitwiseAND(-v) - F.lit(1))
                       + F.lit(1)))
    regs = (hashed
            .select("event_type",
                    F.pmod("h", F.lit(_HLL_M)).alias("reg"),
                    rho.alias("_rho"))
            .groupBy("event_type", "reg")
            .agg(F.max("_rho").alias("rho")))
    dense = (ev.select("event_type").distinct()
               .select("event_type",
                       F.explode(F.sequence(F.lit(0),
                                            F.lit(_HLL_M - 1)))
                        .alias("reg"))
               .join(regs, ["event_type", "reg"], "left")
               .withColumn("rho", F.coalesce("rho", F.lit(0))))
    s = (dense.groupBy("event_type")
              .agg(F.sum(F.expr(
                       "shiftleft(cast(1 as bigint), 45 - rho)"))
                    .cast("bigint").alias("s")))
    truth = (ev.groupBy("event_type")
               .agg(F.countDistinct("user_id").cast("bigint")
                     .alias("n_true")))
    raw = F.lit(float(_HLL_NUM)) / F.col("s").cast("double")
    return (truth.join(s, "event_type")
            .select("event_type", "n_true",
                    (F.floor(raw * F.lit(1e6) + F.lit(0.5))
                     / F.lit(1e6)).alias("hll_est"),
                    (F.abs(raw - F.col("n_true"))
                     <= F.lit(0.5) * F.col("n_true")).alias("rel_ok")))


# ---------------------------------------------------------------------------
# simhash_exact
# ---------------------------------------------------------------------------

_SIM_BIT_SUMS = ", ".join(
    f"SUM((h // {1 << i}) % 2 * 2 - 1) AS b{i}"
    for i in range(_SIM_BITS))
_SIM_FOLD = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT)"
    f" ELSE 0 END)" for i in range(_SIM_BITS))

_SIMHASH_ORACLE = f"""
    WITH {_WH_CTES}, wset AS (
      SELECT DISTINCT doc_id, source, unnest(wh) AS h
      FROM wh
    ), votes AS (
      SELECT doc_id, source, {_SIM_BIT_SUMS}
      FROM wset GROUP BY doc_id, source
    ), sig AS (
      SELECT doc_id, source, {_SIM_FOLD} AS sig FROM votes
    ), deg AS (
      SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_near
      FROM sig a
      JOIN sig b ON a.source = b.source AND a.doc_id <> b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= {_SIM_HAM}
      GROUP BY 1
    )
    SELECT s.doc_id, s.sig, COALESCE(d.n_near, 0) AS n_near
    FROM sig s LEFT JOIN deg d ON d.doc_id = s.doc_id
    """


@query("simhash_exact", oracle=_SIMHASH_ORACLE)
def simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash behind the exact oracle: a 30-bit signature from the
    portable word-hash set (per bit, the +/-1 vote sum over distinct
    word hashes; bit set iff the sum is positive), then ONE ROW PER
    DOC carrying the signature and its exact count of same-source
    neighbors within Hamming distance 2 — linear output regardless
    of how clustered the signatures are (the synthetic corpus is
    near-dup-heavy; a pair listing would grow quadratically in
    cluster size). Pure integer arithmetic end to end — DuckDB folds
    the identical signature and counts the identical neighbors.

    The Spark side generates candidates through a 3-band x 10-bit
    pigeonhole prefilter: any pair within Hamming 2 differs in at
    most 2 of 3 bands, so some band matches exactly and banding is
    LOSSLESS at this radius — the oracle's naive source-blocked scan
    and the banded plan provably produce the same counts. The
    production `simhash_dedup` keeps the 64-bit xxhash64 variant
    (operators/dedup.py); this certifies the vote/fold/Hamming
    semantics cross-engine.

    Scale: signatures are one narrow map + one groupBy(doc); the
    self-join shuffles only (source, band, value, doc_id, sig)
    tuples — 3 rows per doc — and pair work is confined to equal
    band buckets (bounded by true dup-cluster size). The degree agg
    and densifying left join are linear."""
    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .withColumn("_w", F.filter(F.split(F.col("text"), r"\s+"),
                                       lambda x: x != F.lit("")))
            .filter(F.size("_w") >= 3)
            .withColumn("_wh", F.expr(
                "transform(_w, s -> aggregate("
                "  transform(sequence(1, length(s)),"
                "            i -> ascii(substring(s, i, 1))),"
                f" cast(0 as bigint),"
                f" (acc, c) -> pmod(acc * {_CHAR_BASE} + c, {_P})))")))
    wset = (docs.select("doc_id", "source",
                        F.explode(F.array_distinct("_wh")).alias("h")))
    votes = (wset.groupBy("doc_id", "source")
             .agg(*[F.sum((F.expr(f"h div {1 << i}") % 2) * 2 - 1)
                    .alias(f"b{i}") for i in range(_SIM_BITS)]))
    sigs = votes.select("doc_id", "source",
                        F.expr(_SIM_FOLD).alias("sig"))
    mask = (1 << _SIM_BANDW) - 1
    bandvals = F.array(*[
        F.expr(f"(sig div {1 << (_SIM_BANDW * i)}) % {mask + 1}")
        for i in range(_SIM_BITS // _SIM_BANDW)])
    banded = (sigs.select("doc_id", "source", "sig",
                          F.posexplode(bandvals).alias("band", "bv")))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.source") == F.col("b.source"))
                   & (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.doc_id") != F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_id"),
                     F.col("b.doc_id").alias("nbr"),
                     F.col("a.sig").alias("s1"),
                     F.col("b.sig").alias("s2"))
             .distinct()
             .filter(F.bit_count(F.expr("s1 ^ s2")) <= _SIM_HAM))
    deg = (cand.groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_near")))
    return (sigs.join(deg, "doc_id", "left")
                .select("doc_id", "sig",
                        F.coalesce("n_near", F.lit(0).cast("bigint"))
                         .alias("n_near")))


# ---------------------------------------------------------------------------
# hyperplane_lsh_exact
# ---------------------------------------------------------------------------

# Rademacher hyperplanes (+/-1 components): drawn AFTER every other
# constant above so adding them never perturbs the earlier literals.
_HP_BITS = 32                             # signature bits
_HP_BANDS, _HP_BANDW = 4, 8               # 4 bands x 8 bits
_HP = [[1 if _rng.random() < 0.5 else -1 for _ in range(64)]
       for _ in range(_HP_BITS)]
_HPQ = 1000                               # embedding grid (tier-22)

_HP_QV_SQL = (f"list_transform(embedding, x -> CAST(floor("
              f"CAST(x AS DOUBLE) * {_HPQ} + 0.5) AS BIGINT))")
_HP_QV_SPARK = (f"transform(embedding, x -> cast(floor("
                f"cast(x as double) * {_HPQ} + 0.5d) as bigint))")

_HP_SIG_SQL = " + ".join(
    f"(CASE WHEN ({' + '.join(f'qv[{i + 1}] * ({c})' for i, c in enumerate(h) if c != 0)}) > 0"
    f" THEN CAST({1 << k} AS BIGINT) ELSE 0 END)"
    for k, h in enumerate(_HP))


_HP_ORACLE = f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, {_HP_QV_SQL} AS qv FROM embeddings
    ), sig AS MATERIALIZED (
      SELECT vec_id, qv,
             {_HP_SIG_SQL} AS sig,
             list_reduce(list_transform(qv, x -> x * x),
                         (a, b) -> a + b) AS n2
      FROM qv
    ), bands AS (
      SELECT vec_id, t.b AS band,
             (sig >> ({_HP_BANDW} * t.b)) % {1 << _HP_BANDW} AS bv
      FROM sig, (SELECT unnest(range({_HP_BANDS})) AS b) t
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bv = b.bv
                  AND a.vec_id < b.vec_id
    ), scored AS (
      SELECT c.id_1, c.id_2,
             list_reduce(list_transform(range(64),
               i -> sa.qv[i + 1] * sb.qv[i + 1]),
               (a, b) -> a + b) AS dt,
             sa.n2 AS na2, sb.n2 AS nb2
      FROM cand c
      JOIN sig sa ON sa.vec_id = c.id_1
      JOIN sig sb ON sb.vec_id = c.id_2
    ), ver AS (
      SELECT id_1, id_2 FROM scored
      WHERE dt > 0 AND 25 * dt * dt >= 4 * na2 * nb2
    ), deg AS (
      SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_near
      FROM (SELECT id_1 AS vec_id FROM ver
            UNION ALL SELECT id_2 FROM ver)
      GROUP BY 1
    )
    SELECT s.vec_id, s.sig, COALESCE(d.n_near, 0) AS n_near
    FROM sig s LEFT JOIN deg d ON d.vec_id = s.vec_id
    """


@query("hyperplane_lsh_exact", oracle=_HP_ORACLE)
def hyperplane_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane (sign-random-projection) LSH behind the exact
    oracle gate — completing the LSH family after minhash/simhash: a
    32-bit signature from the signs of integer dot products with 32
    seeded Rademacher (+/-1) hyperplanes over grid-quantized
    embeddings, banded 4x8; bucket-cofalling pairs are verified with
    the PURE-INTEGER cosine test  dt>0 AND 25*dt^2 >= 4*|a|^2*|b|^2
    (exactly cos >= 0.4 — the threshold squared is 4/25, so no sqrt
    and no float ever enters). Output is one row per vector with its
    signature and verified-neighbor count — linear however clustered
    the embeddings are (the simhash_exact posture).

    The production `lsh_near_dup` (operators/knn.py) keeps the
    float-kernel variant with its recall tests; this key certifies
    the sign/band/verify semantics cross-engine bit-for-bit.

    Scale: signatures are one narrow map (a 32x64 +/-1 literal
    matrix folded JVM-side); the self-join shuffles 4 small rows per
    vector; verification is candidate-bounded. Band width trades
    candidate volume against recall exactly as in the production
    operator — at 100 TB you widen bands (more bits) to keep buckets
    near-constant."""
    em = load(spark, sf_dir, "embeddings")
    base = em.select("vec_id", F.expr(_HP_QV_SPARK).alias("qv"))

    def _hdot(h):
        lit = "array(%s)" % ",".join(f"{c}L" for c in h)
        return F.expr(
            f"aggregate(zip_with(qv, {lit}, (x, y) -> x * y),"
            " cast(0 as bigint), (a, b) -> a + b)")

    sig_col = None
    for k, h in enumerate(_HP):
        term = F.when(_hdot(h) > 0,
                      F.lit(1 << k).cast("bigint")) \
                .otherwise(F.lit(0).cast("bigint"))
        sig_col = term if sig_col is None else sig_col + term
    n2 = F.expr("aggregate(transform(qv, x -> x * x),"
                " cast(0 as bigint), (a, b) -> a + b)")
    sigs = pin(base.select("vec_id", "qv", sig_col.alias("sig"),
                           n2.alias("n2")))
    bands = sigs.select(
        "vec_id",
        F.posexplode(F.array(*[
            F.expr(f"(sig div {1 << (_b * _HP_BANDW)})"
                   f" % {1 << _HP_BANDW}")
            for _b in range(_HP_BANDS)])).alias("band", "bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, ["band", "bv"])
             .filter(F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("id_1"),
                     F.col("b.vec_id").alias("id_2"))
             .distinct())
    sa = sigs.select(F.col("vec_id").alias("id_1"),
                     F.col("qv").alias("_qa"), F.col("n2").alias("na2"))
    sb = sigs.select(F.col("vec_id").alias("id_2"),
                     F.col("qv").alias("_qb"), F.col("n2").alias("nb2"))
    dt = F.expr("aggregate(zip_with(_qa, _qb, (x, y) -> x * y),"
                " cast(0 as bigint), (a, b) -> a + b)")
    ver = (cand.join(sa, "id_1").join(sb, "id_2")
               .withColumn("dt", dt)
               .filter((F.col("dt") > 0)
                       & (F.lit(25) * F.col("dt") * F.col("dt")
                          >= F.lit(4) * F.col("na2") * F.col("nb2")))
               .select("id_1", "id_2"))
    deg = (ver.select(F.col("id_1").alias("vec_id"))
              .unionAll(ver.select(F.col("id_2").alias("vec_id")))
              .groupBy("vec_id")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_near")))
    return (sigs.join(deg, "vec_id", "left")
                .select("vec_id", "sig",
                        F.coalesce("n_near", F.lit(0).cast("bigint"))
                         .alias("n_near")))
