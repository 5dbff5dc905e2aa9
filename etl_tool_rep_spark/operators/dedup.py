"""Deduplication operators for training-data pipelines.

All variants are pure JVM-side Column expressions (higher-order array
functions — no Python UDFs, stays in whole-stage codegen):

* exact:    normalize -> group-by -> keep first (one shuffle on the
            normalized key; at 100 TB this is the cheapest possible
            exact dedup: map-side partial aggregation collapses
            duplicates before the shuffle).
* MinHash:  word-shingles -> k permuted min-hashes -> banded LSH ->
            candidate pairs within equal (band, band-hash) buckets ->
            exact-Jaccard verification of candidates only. The
            pairwise work is confined to same-bucket groups, never
            all-pairs.
* SimHash:  64-bit sign-aggregated token hashes; near-dup candidates
            share one of four 16-bit bands, verified by Hamming
            distance (bit_count of xor).
* n-gram Jaccard: exact 3-gram Jaccard within a cheap blocking key
            (same source) — the brute-force baseline the LSH variants
            approximate.

All randomness is a fixed seeded permutation table — results are fully
deterministic across runs and cluster sizes.

Public literature grounding: MinHash resemblance estimation (Broder,
"On the resemblance and containment of documents", 1997) with the
banding analysis from Leskovec/Rajaraman/Ullman, *Mining of Massive
Datasets* ch.3; SimHash (Charikar, "Similarity estimation techniques
from rounding algorithms", STOC 2002) as deployed for web-scale
near-dup detection (Manku et al., WWW 2007).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import let_bind
from ..session import pin

# Mersenne prime 2^31-1: permutation arithmetic a*h+b stays < 2^62,
# safely inside BIGINT.
_P = (1 << 31) - 1

_RNG = random.Random(42)
_PERMS: list[tuple[int, int]] = [
    (_RNG.randrange(1, _P), _RNG.randrange(0, _P)) for _ in range(64)]

DEFAULT_K = 64          # minhash signature length
DEFAULT_BANDS = 16      # 16 bands x 4 rows


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact dedup: casefold, trim, collapse
    whitespace."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per normalized text: keeper = min id, with the
    duplicate count. Shuffles once on the normalized key."""
    norm = normalize_text(F.col(text_col)).alias("_norm")
    return (df.select(F.col(id_col), norm)
              .groupBy("_norm")
              .agg(F.min(id_col).alias(id_col),
                   F.count(F.lit(1)).alias("dup_count"))
              .drop("_norm"))


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram set as an array column (JVM-side).
    The token array is let-bound so the split runs once per row,
    not once per indexed reference per gram."""
    def body(toks):
        upper = F.greatest(F.size(toks) - (n - 1), F.lit(1))
        # try_element_at: docs shorter than n words fall back to one
        # truncated shingle (concat_ws skips the NULLs) instead of
        # throwing under ANSI mode (Spark 4 default).
        return F.array_distinct(F.transform(
            F.sequence(F.lit(1), upper),
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, i + j) for j in range(n)])))
    return let_bind(F.split(text_col, r"\s+"), body)


def _shingle_hashes(shingles: Column) -> Column:
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))


def word_shingle_hashes(text_col: Column, n: int = 3) -> Column:
    """Distinct hashed word n-grams in ONE higher-order pass —
    shingle strings are hashed inside the same transform that builds
    them, never materialized as an array<string> column. Jaccard over
    the hash set equals Jaccard over the string set up to xxhash64
    collisions mod the 2^31-1 prime (negligible: ~n^2/2^31 per doc).

    Why not word_shingles + _shingle_hashes: higher-order functions
    evaluate interpreted (outside codegen), and projection collapse
    inlines the shingle expression into every consumer — the string
    array was being recomputed up to 3x (as _sh, inside _shh, and in
    the Python-input projection). One fused pass measured ~2.5x faster
    end-to-end on the minhash pipeline at sf0.1; the token array is
    additionally let-bound (see let_bind) so the split runs once per row."""
    def body(toks):
        upper = F.greatest(F.size(toks) - (n - 1), F.lit(1))
        return F.array_distinct(F.transform(
            F.sequence(F.lit(1), upper),
            lambda i: F.pmod(F.xxhash64(F.concat_ws(
                " ", *[F.try_element_at(toks, i + j) for j in range(n)])),
                F.lit(_P))))
    return let_bind(F.split(text_col, r"\s+"), body)


def minhash_signature(shingle_hash_col: Column,
                      k: int = DEFAULT_K) -> Column:
    """k-permutation MinHash signature; permutations are a fixed
    seeded table, so signatures are stable across runs/partitions.

    Built as ONE nested higher-order expression (zip_with over the
    permutation-constant arrays) instead of k parallel array_min
    expressions — the flat form made Catalyst chew on a 64-branch
    expression tree (measured ~10s of planning overhead at any data
    size)."""
    a_arr = F.array(*[F.lit(a) for a, _ in _PERMS[:k]])
    b_arr = F.array(*[F.lit(b) for _, b in _PERMS[:k]])
    return F.zip_with(
        a_arr, b_arr,
        lambda a, b: F.array_min(F.transform(
            shingle_hash_col, lambda h: F.pmod(h * a + b, F.lit(_P)))))


def _minhash_sig_udf(k: int):
    """Arrow-vectorized signature kernel (see functions/udfs.py). The
    JVM higher-order-function form (minhash_signature) evaluates
    interpreted at ~17ms/doc; the numpy form is bit-identical and
    ~100x faster — kept as the default execution path, with the JVM
    form retained as the no-Python reference implementation."""
    from ..functions.udfs import make_minhash_sig_udf
    return make_minhash_sig_udf(_PERMS[:k], _P)


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            k: int = DEFAULT_K,
                            bands: int = DEFAULT_BANDS,
                            min_jaccard: float = 0.0) -> DataFrame:
    """LSH candidate pairs with estimated (signature-agreement) and
    verified (hashed-shingle-set) Jaccard — the verify pass compares
    64-bit shingle hashes, not raw shingle strings, so it is exact up
    to hash collisions (~2^-64 per shingle pair). Returns (id_1,
    id_2, est_jaccard, jaccard) with id_1 < id_2."""
    rows = k // bands
    # Shingling + k permutations is the compute-dense stage (higher-
    # order functions evaluate interpreted, not codegen): spread it
    # across cores even when the source is one small parquet split —
    # at scale the scan is already many splits and this coalesces into
    # the shuffle AQE would do anyway.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    base = (df.select(F.col(id_col).alias("_id"),
                      F.col(text_col).alias("_txt"))
              # NULL text has no shingles and cannot be a candidate
              .filter(F.col("_txt").isNotNull())
              .repartition(n_part, "_id")
              # fused shingle+hash pass: shingle strings never leave
              # the expression (see word_shingle_hashes)
              .withColumn("_sh", word_shingle_hashes(F.col("_txt")))
              .withColumn("_sig", _minhash_sig_udf(k)(F.col("_sh")))
              .drop("_txt"))
    # materialize once so the four downstream branches don't recompute
    # the signatures
    base = pin(base)

    band_structs = F.array(*[
        F.struct(F.lit(j).alias("band"),
                 F.hash(F.slice("_sig", j * rows + 1, rows)).alias("bh"))
        for j in range(bands)])
    banded = (base.select("_id", F.explode(band_structs).alias("b"))
                  .select("_id", "b.band", "b.bh"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col("a._id") < F.col("b._id")))
              .select(F.col("a._id").alias("id_1"),
                      F.col("b._id").alias("id_2"))
              .distinct())

    s1 = base.select(F.col("_id").alias("id_1"),
                     F.col("_sig").alias("_sig1"),
                     F.col("_sh").alias("_sh1"))
    s2 = base.select(F.col("_id").alias("id_2"),
                     F.col("_sig").alias("_sig2"),
                     F.col("_sh").alias("_sh2"))
    est = (F.aggregate(
        F.zip_with("_sig1", "_sig2",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v) / F.lit(float(k)))
    exact = (F.size(F.array_intersect("_sh1", "_sh2")).cast("double")
             / F.size(F.array_union("_sh1", "_sh2")))
    out = (pairs.join(s1, "id_1").join(s2, "id_2")
                .withColumn("est_jaccard", est)
                .withColumn("jaccard", exact)
                .filter(F.col("jaccard") >= min_jaccard)
                .select("id_1", "id_2",
                        F.round("est_jaccard", 6).alias("est_jaccard"),
                        F.round("jaccard", 6).alias("jaccard")))
    return out


# SQL forms (the Python shiftright/shiftleft wrappers only accept
# int shift amounts; the SQL expressions accept columns, which the
# per-bit lambda needs).
_SIMHASH_COUNTS_SQL = """
aggregate(
  transform(split({text}, '\\\\s+'), t -> xxhash64(t)),
  array_repeat(cast(0 as bigint), 64),
  (acc, h) -> zip_with(
      acc,
      transform(sequence(0, 63),
                j -> cast((shiftright(h, j) & 1) as bigint) * 2 - 1),
      (a, x) -> a + x))
"""

_SIMHASH_ASSEMBLE_SQL = """
element_at(transform(array({counts}), c ->
  cast(
    aggregate(
      transform(sequence(0, 62),
                j -> if(element_at(c, j + 1) > 0,
                        shiftleft(cast(1 as bigint), j),
                        cast(0 as bigint))),
      cast(0 as bigint), (acc, v) -> acc + v)
    + if(element_at(c, 64) > 0, -9223372036854775808, 0)
  as bigint)), 1)
"""


def simhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 16-bit
    bands (pigeonhole: hamming<=3 over 4 bands guarantees an equal
    band), verified with exact Hamming distance."""
    # assemble references counts through the let-bound lambda var (see
    # _SIMHASH_ASSEMBLE_SQL / let_bind): without it CollapseProject
    # inlines the whole counts aggregate into all 64 bit probes.
    # repartition: the signature pass is compute-dense, spread it.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    base = (df.select(F.col(id_col).alias("_id"),
                      F.col(text_col).alias("_txt"))
              .filter(F.col("_txt").isNotNull())
              .repartition(n_part, "_id")
              .withColumn("_cnt", F.expr(
                  _SIMHASH_COUNTS_SQL.format(text="`_txt`")))
              .withColumn("_sh", F.expr(
                  _SIMHASH_ASSEMBLE_SQL.format(counts="`_cnt`")))
              .select("_id", "_sh"))
    base = pin(base)
    band_structs = F.array(*[
        F.struct(F.lit(j).alias("band"),
                 F.shiftrightunsigned("_sh", j * 16)
                  .bitwiseAND(F.lit(0xFFFF)).alias("bh"))
        for j in range(4)])
    banded = (base.select("_id", F.explode(band_structs).alias("b"))
                  .select("_id", "b.band", "b.bh"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col("a._id") < F.col("b._id")))
              .select(F.col("a._id").alias("id_1"),
                      F.col("b._id").alias("id_2"))
              .distinct())
    h1 = base.select(F.col("_id").alias("id_1"), F.col("_sh").alias("_h1"))
    h2 = base.select(F.col("_id").alias("id_2"), F.col("_sh").alias("_h2"))
    ham = F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2")))
    return (pairs.join(h1, "id_1").join(h2, "id_2")
                 .withColumn("hamming", ham.cast("bigint"))
                 .filter(F.col("hamming") <= max_hamming)
                 .select("id_1", "id_2", "hamming"))


def gram_set(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", block_col: str = "source",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram rows (_id, _blk, _g) per (doc, block) —
    the shared gram universe behind exact-Jaccard, containment and
    component queries (SQL twin: queries/shared_sql.NGRAM_GRAM_CTES;
    change both together). Docs shorter than n words have no full
    n-gram and do not participate (standard n-gram semantics;
    mirrors the SQL oracle — unlike MinHash, which keeps a
    truncated-shingle fallback).

    The exploded-distinct set is pinned once (``session.pin``):
    every caller fans it out to 2-3 branches (join sides +
    per-doc counts) and the shingle explode + distinct shuffle would
    otherwise re-run per branch."""
    tri = (df.filter(F.size(F.split(F.col(text_col), r"\s+")) >= n)
             .select(F.col(id_col).alias("_id"),
                     F.col(block_col).alias("_blk"),
                     F.explode(word_shingles(F.col(text_col), n))
                      .alias("_g"))
             .distinct())
    return pin(tri, eager=False)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", block_col: str = "source",
                        n: int = 3,
                        min_jaccard: float = 0.05) -> DataFrame:
    """Exact n-gram Jaccard within a blocking key: explode distinct
    n-grams, self-join on (gram, block) to count intersections, then
    |A∩B| / (|A|+|B|-|A∩B|). Only pairs sharing >=1 gram ever
    materialize — the blocking + gram join bounds the pair space."""
    tri = gram_set(df, text_col, id_col, block_col, n)
    counts = tri.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a, b = tri.alias("a"), tri.alias("b")
    inter = (a.join(b, (F.col("a._g") == F.col("b._g"))
                    & (F.col("a._blk") == F.col("b._blk"))
                    & (F.col("a._id") < F.col("b._id")))
              .groupBy(F.col("a._id").alias("id_1"),
                       F.col("b._id").alias("id_2"))
              .agg(F.count(F.lit(1)).alias("_ni")))
    ca = counts.select(F.col("_id").alias("id_1"), F.col("_n").alias("_na"))
    cb = counts.select(F.col("_id").alias("id_2"), F.col("_n").alias("_nb"))
    jac = (F.col("_ni") * F.lit(1.0)
           / (F.col("_na") + F.col("_nb") - F.col("_ni")))
    return (inter.join(ca, "id_1").join(cb, "id_2")
                 .filter(jac >= min_jaccard)
                 .select("id_1", "id_2", F.round(jac, 6).alias("jaccard")))
