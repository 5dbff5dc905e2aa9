"""Similarity search over embedding columns (array<float>).

Everything stays in JVM higher-order array functions (zip_with +
aggregate in DOUBLE) — no Python in the hot path, deterministic
left-to-right accumulation (hash-stable vs a serial oracle).

* brute force: broadcast the (small) query set against all
  candidates; per-candidate cost is O(dim), the top-k is a bounded
  window. This is the exact baseline — at 100 TB of vectors it's one
  full scan per query batch, embarrassingly parallel, no shuffle
  until the (tiny) top-k reduction.
* IVF: coarse quantize into nlist cells (deterministic centroid
  subset here; swap in k-means centroids without changing the plan),
  probe the nprobe nearest cells only — the scan shrinks to
  nprobe/nlist of the data. The cell assignment is itself a broadcast
  argmax, so building the index is one pass.

Public literature grounding: IVF coarse quantization follows the
inverted-file design of Jegou/Douze/Schmid ("Product quantization for
nearest neighbor search", TPAMI 2011); random-hyperplane cosine LSH
is Charikar (STOC 2002) / Indyk-Motwani locality-sensitive hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

# SQL-literal plan-size ceiling: codebooks/centroid sets inlined as
# parsed SQL text must stay under ~1 MB; bigger constants ship as a
# broadcast 1-row table instead (see ivf_assign and SCALE.md)
_LITERAL_PLAN_CEILING_CHARS = 1_000_000


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def brute_force_topk(queries: DataFrame, candidates: DataFrame,
                     query_id: str, cand_id: str,
                     query_vec: str, cand_vec: str,
                     k: int = 10, metric: str = "cosine",
                     exclude_self: bool = True) -> DataFrame:
    """Exact top-k per query (broadcast queries x scan candidates).
    Deterministic ranking: (rounded score desc, candidate id asc)."""
    q = queries.select(F.col(query_id).alias("_qid"),
                       F.col(query_vec).alias("_qv"))
    c = candidates.select(F.col(cand_id).alias("_cid"),
                          F.col(cand_vec).alias("_cv"))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("_qid") != F.col("_cid"))
    score = cosine(F.col("_qv"), F.col("_cv")) if metric == "cosine" \
        else dot(F.col("_qv"), F.col("_cv"))
    w = (Window.partitionBy("_qid")
         .orderBy(F.col("score").desc(), F.col("_cid").asc()))
    return (joined
            .withColumn("score", F.round(score, 7))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select(F.col("_qid").alias(query_id),
                    F.col("_cid").alias(cand_id), "score", "rank"))


def hyperplane_signature(vec: Column, dim: int, n_bits: int = 16,
                         seed: int = 42) -> Column:
    """Random-hyperplane LSH signature for cosine similarity: bit i =
    sign(<v, h_i>) with h_i a fixed seeded +-1 hyperplane. Vectors
    with cosine ~1 agree on almost all bits, so equal signatures (or
    equal signature bands) bucket near-duplicates together.

    Deterministic: hyperplanes derive from a seeded RNG, not runtime
    randomness — signatures are stable across runs and cluster sizes."""
    import random
    rng = random.Random(seed)
    planes = [[rng.choice((-1.0, 1.0)) for _ in range(dim)]
              for _ in range(n_bits)]
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        h = F.array(*[F.lit(x) for x in plane])
        d = dot(vec, h)
        sig = sig + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def lsh_near_dup_pairs(vectors: DataFrame, vec_id: str, vec_col: str,
                       dim: int, threshold: float = 0.4,
                       n_bits: int = 16, bands: int = 4) -> DataFrame:
    """Scale path for embedding near-dup: bucket by hyperplane
    signature bands (candidates must share one band of n_bits/bands
    bits), then exact-cosine check candidates only — computed as a
    BUCKET-BLOCKED BLAS tile (one applyInPandas per (band, bucket)
    group), the same design as semantic_dedup's cluster tiles. The
    all-pairs cross join becomes sum over buckets of bucket^2, and the
    verify never materializes a pair-level join: each bucket
    unit-normalizes its vectors once, takes U @ U.T, and emits only
    the pairs above threshold. (The previous formulation generated a
    pair LIST via a banded self-join and then re-joined both vectors
    per pair, paying two shuffles plus an interpreted higher-order
    `aggregate` dot per pair — 470k candidate pairs took ~17 s at
    sf0.1; the tile form is ~1.5 s.)

    Cross-band dedup: the same pair surfaces in every band the two
    vectors share, so emitted sims must be BITWISE identical across
    bands for distinct() to collapse them. BLAS matmul accumulation
    order varies with tile shape, so kept pairs recompute their sim
    with a fixed-order elementwise sum (order depends only on dim),
    after an epsilon-slack matmul prefilter; the final keep decision
    uses only the deterministic value, rounded to 9 dp before the
    threshold compare (the ulp contract shared with semantic_dedup /
    embedding_near_dup).

    Recall/threshold trade-off: P(bit agrees) = 1 - angle/pi; tune
    n_bits/bands per threshold (looser thresholds need fewer agreeing
    bits). At 100 TB, band-hash buckets bound the quadratic exactly
    like SemDeDup clusters; a pathologically hot bucket (all-equal
    vectors) is capped by raising bits_per_band, not by sampling."""
    import random

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.udfs import make_hyperplane_sig_udf

    bits_per_band = n_bits // bands
    mask = (1 << bits_per_band) - 1
    rng = random.Random(42)
    planes = [[rng.choice((-1.0, 1.0)) for _ in range(dim)]
              for _ in range(n_bits)]
    # numpy kernel (same seeded planes as the JVM reference form in
    # hyperplane_signature; dense per-vector compute is the pandas-UDF
    # sweet spot, like the MinHash kernel)
    sig_udf = make_hyperplane_sig_udf(planes)
    base = (vectors.select(F.col(vec_id).alias("_id"),
                           F.col(vec_col).alias("_v"))
            .filter(F.col("_v").isNotNull())
            .withColumn("_sig", sig_udf(F.col("_v"))))
    band_structs = F.array(*[
        F.struct(F.lit(j).alias("band"),
                 F.shiftrightunsigned("_sig", j * bits_per_band)
                  .bitwiseAND(F.lit(mask)).alias("bh"))
        for j in range(bands)])
    banded = (base.select("_id", "_v", F.explode(band_structs).alias("b"))
                  .select("_id", "_v", "b.band", "b.bh"))

    id_type = vectors.schema[vec_id].dataType
    out_schema = T.StructType([
        T.StructField("vec_id_1", id_type),
        T.StructField("vec_id_2", id_type),
        T.StructField("cos_sim", T.DoubleType())])
    empty = pd.DataFrame({"vec_id_1": [], "vec_id_2": [], "cos_sim": []})

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("_id")           # i<j => id_i < id_j
        ids = pdf["_id"].to_numpy()
        M = np.array(pdf["_v"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(M, axis=1)
        nrm[nrm == 0] = 1.0
        U = M / nrm[:, None]
        S = U @ U.T                            # BLAS tile: prefilter only
        iu, ju = np.triu_indices(len(ids), k=1)
        cand = S[iu, ju] >= threshold - 1e-6   # epsilon slack for ulp
        i, j = iu[cand], ju[cand]
        if not len(i):
            return empty
        # deterministic re-dot: accumulation order fixed by dim alone,
        # bitwise identical whichever band/bucket shape emitted it
        sims = np.sum(U[i] * U[j], axis=1)
        keep = np.round(sims, 9) >= threshold
        return pd.DataFrame({"vec_id_1": ids[i[keep]],
                             "vec_id_2": ids[j[keep]],
                             "cos_sim": np.round(sims[keep], 7)})

    return (banded.groupBy("band", "bh")
            .applyInPandas(bucket_pairs, out_schema)
            .distinct())


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               vec_id: str, vec_col: str,
               centroid_id: str = "centroid_id",
               centroid_vec: str = "centroid_vec") -> DataFrame:
    """Assign every vector to its nearest (cosine) centroid with a
    zero-shuffle broadcast argmax: centroids (nlist x dim — always
    index-metadata-sized) are collected once and inlined as literal
    arrays, each vector computes its per-centroid similarity array
    and takes ``array_position(sims, array_max(sims))`` — the same
    pattern as ``kmeans_assign`` (operators/kmeans.py). No row
    fan-out, no window, no Exchange: one narrow map over the data.

    Ties break to the lowest centroid_id (centroids evaluated in
    centroid_id order; array_position returns the first maximum),
    matching the previous window (_sim desc, centroid_id asc).

    Two plan-construction details matter: centroids are UNIT-
    normalized driver-side, so the per-vector score is a bare dot
    product (cosine argmax == dot-with-unit-centroid argmax — the
    1/|v| factor is constant across centroids and positive); and the
    nlist x dim constant ships as ONE parsed SQL literal instead of
    nlist*dim F.lit() Columns — thousands of py4j round-trips were
    costing multiple seconds of driver time per call. The centroid
    IDS, by contrast, are an nlist-sized typed ``F.lit`` array (a few
    hundred round-trips at most) so arbitrary id types (string/UUID
    labels, ints) survive with their original Spark type instead of
    being forced through SQL text as BIGINT.

    Plan-size guard: the literal form is only used while the codebook
    text stays under ``_LITERAL_PLAN_CEILING_CHARS`` (~1 MB). Above
    that (e.g. nlist 4096 x dim 256) Catalyst parse/analyze time and
    plan-string bloat grow super-linearly, so the codebook ships as a
    broadcast 1-row table instead — identical results, same
    zero-shuffle map, data on the broadcast channel instead of in the
    query text (measured in SCALE.md §literal-plans)."""
    import math

    rows = (centroids.select(centroid_id, centroid_vec)
            .orderBy(centroid_id).collect())
    if not rows:
        raise ValueError("ivf_assign: centroids DataFrame is empty — "
                         "cannot assign vectors to zero cells")
    cids = [r[centroid_id] for r in rows]
    units = []
    for r in rows:
        cv = [float(x) for x in r[centroid_vec]]
        if not all(math.isfinite(x) for x in cv):
            raise ValueError(
                "ivf_assign: centroid %r has non-finite components — "
                "inf/nan cannot be shipped as SQL literals"
                % (r[centroid_id],))
        nrm = math.sqrt(sum(x * x for x in cv)) or 1.0
        units.append([x / nrm for x in cv])
    literal_chars = sum(len(repr(x)) + 2 for cv in units for x in cv)
    if literal_chars <= _LITERAL_PLAN_CEILING_CHARS:
        cent_lit = F.expr("array(%s)" % ",".join(
            "array(%s)" % ",".join(repr(x) + "D" for x in cv)
            for cv in units))
    else:
        # plan-size guard (SCALE.md §literal-plans): above ~1 MB of
        # SQL text, parse/analyze time grows super-linearly and the
        # plan string bloats every explain/UI payload. Ship the
        # codebook as a broadcast 1-row table instead — same
        # downstream expressions, data moves via the broadcast
        # channel rather than the query text. (Measured: 256x64
        # floats parse in ~60 ms; 4096x256 would be ~20 MB of text.)
        spark = vectors.sparkSession
        # collision-safe helper column: the input may legitimately own
        # any fixed name, so derive one it provably doesn't
        ccol = "_cents"
        while ccol in vectors.columns:
            ccol += "_"
        cent_row = local_frame(
            spark, [(units,)], T.StructType([T.StructField(
                ccol, T.ArrayType(T.ArrayType(T.DoubleType())))]))
        vectors = vectors.crossJoin(F.broadcast(cent_row))
        cent_lit = F.col(ccol)
    id_lit = F.array(*[F.lit(c) for c in cids])
    sims = F.transform(cent_lit, lambda c: dot(F.col(vec_col), c))
    pos = F.array_position(sims, F.array_max(sims)).cast("int")
    out = vectors.withColumn(centroid_id, F.element_at(id_lit, pos))
    if literal_chars > _LITERAL_PLAN_CEILING_CHARS:
        out = out.drop(ccol)
    return out


def ivf_topk(queries: DataFrame, assigned: DataFrame,
             centroids: DataFrame,
             query_id: str, query_vec: str,
             cand_id: str, cand_vec: str,
             k: int = 10, nprobe: int = 3,
             centroid_id: str = "centroid_id",
             centroid_vec: str = "centroid_vec") -> DataFrame:
    """ANN search: probe the nprobe nearest cells per query, exact
    top-k within them. Recall grows with nprobe (== brute force at
    nprobe = nlist)."""
    q = queries.select(F.col(query_id).alias("_qid"),
                       F.col(query_vec).alias("_qv"))
    probe = q.crossJoin(F.broadcast(centroids))
    w = (Window.partitionBy("_qid")
         .orderBy(F.col("_csim").desc(), F.col(centroid_id).asc()))
    probed = (probe
              .withColumn("_csim", cosine(F.col("_qv"),
                                          F.col(centroid_vec)))
              .withColumn("_crn", F.row_number().over(w))
              .filter(F.col("_crn") <= nprobe)
              .select("_qid", "_qv", centroid_id))
    cands = probed.join(assigned, centroid_id) \
                  .filter(F.col("_qid") != F.col(cand_id))
    wk = (Window.partitionBy("_qid")
          .orderBy(F.col("score").desc(), F.col(cand_id).asc()))
    return (cands
            .withColumn("score",
                        F.round(cosine(F.col("_qv"), F.col(cand_vec)), 7))
            .withColumn("rank", F.row_number().over(wk).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select(F.col("_qid").alias(query_id),
                    F.col(cand_id), "score", "rank"))


def mmr_rerank(scored: DataFrame, lam: float = 0.7,
               k: int = 10) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick items maximizing
    ``lam * relevance - (1 - lam) * max_sim_to_already_picked``.

    ``scored`` columns: ``_qid`` (group), ``_cid``, ``relevance``,
    ``_cv`` (array vector). The greedy loop is inherently sequential
    *within one query's shortlist*, so it runs as an
    ``applyInPandas`` grouped kernel over the (small, <=~100-row)
    per-query candidate set — the expensive part, producing the
    shortlist, stays distributed (brute force / IVF top-k). At scale
    this is the standard two-stage retrieve-then-rerank split: stage
    1 scans billions of vectors in parallel, stage 2 is O(k^2 * dim)
    per query on already-tiny groups.

    Deterministic: candidates pre-sorted by (relevance desc, id asc);
    numpy argmax takes the first maximum.
    """
    def pick(pdf):
        import numpy as np
        pdf = (pdf.sort_values(["relevance", "_cid"],
                               ascending=[False, True])
                  .reset_index(drop=True))
        vecs = np.stack([np.asarray(v, dtype=np.float64)
                         for v in pdf["_cv"]])
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        sim = unit @ unit.T
        rel = pdf["relevance"].to_numpy(dtype=np.float64)
        chosen: list[int] = []
        avail = list(range(len(pdf)))
        while avail and len(chosen) < k:
            if not chosen:
                best = avail[0]
            else:
                red = sim[np.ix_(avail, chosen)].max(axis=1)
                best = avail[int(np.argmax(lam * rel[avail]
                                           - (1 - lam) * red))]
            chosen.append(best)
            avail.remove(best)
        out = pdf.iloc[chosen][["_qid", "_cid", "relevance"]].copy()
        out["mmr_rank"] = range(1, len(chosen) + 1)
        return out

    return scored.groupBy("_qid").applyInPandas(
        pick, "_qid bigint, _cid bigint, relevance double, "
              "mmr_rank bigint")
