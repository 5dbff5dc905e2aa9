"""Tier 23 — content-defined chunking (CDC) dedup behind the exact
oracle gate.

Document-level dedup (exact_dedup, minhash) misses duplication BELOW
the document: boilerplate paragraphs, quoted passages, shared
templates. The storage/dedup literature answer (LBFS, rsync,
restic/borg) is content-defined chunking: cut each text where a
ROLLING WINDOW hash satisfies a modular condition, so chunk
boundaries realign after insertions/deletions (a fixed-width grid
would shift every downstream chunk; CDC boundaries depend only on
local content). Identical passages then produce identical chunks
wherever they appear, and duplicated content is a GROUP BY over
chunk fingerprints.

Exactness: the window hash and the chunk fingerprint are both
Karp-Rabin Horner folds over codepoints mod 1e9+7 — the portable
integer kernel certified by `rolling_fingerprint` and tier 21 — so
DuckDB reproduces boundary decisions and fingerprints bit-for-bit.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from .registry import query

_P = 1_000_000_007
_B = 31
_W = 8          # rolling window width (chars)
_MASK = 64      # boundary when window-hash % 64 == 0 (~64-char chunks)


# window hash at position i (chars i-W+1..i), as a SQL fold over j
def _wh_sql(cs: str, i: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" list_transform(range({i} - {_W} + 1, {i} + 1),"
            f" j -> {cs}[j])), (acc, c) -> (acc * {_B} + c) % {_P})")


def _cdc_chunks_arrow(batches):
    """Vectorized CDC kernel (one numpy pass per document): emits
    (doc_id, fp, ln) chunk rows. Exact integer arithmetic mod 1e9+7,
    identical to the SQL Horner folds — see cdc_chunk_dedup."""
    import numpy as np
    import pyarrow as pa

    # Horner power vector for the W-char window hash:
    # wh(i) = sum cs[j] * B^(i-j) mod P over the last W chars
    pw_win = np.empty(_W, dtype=np.int64)
    pw_win[_W - 1] = 1
    for j in range(_W - 2, -1, -1):
        pw_win[j] = pw_win[j + 1] * _B % _P
    inv_b = pow(_B, _P - 2, _P)  # P prime -> modular inverse of B

    def _pow_table(n: int, base: int) -> "np.ndarray":
        """[base^0 .. base^n] mod P, built in O(n/64) python steps."""
        small = np.empty(64, dtype=np.int64)
        small[0] = 1
        for j in range(1, 64):
            small[j] = small[j - 1] * base % _P
        step = pow(base, 64, _P)
        big = np.empty(n // 64 + 1, dtype=np.int64)
        big[0] = 1
        for k in range(1, len(big)):
            big[k] = big[k - 1] * step % _P
        e = np.arange(n + 1, dtype=np.int64)
        return big[e >> 6] * small[e & 63] % _P

    for batch in batches:
        doc_ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        o_doc: list = []
        o_fp: list = []
        o_ln: list = []
        for did, txt in zip(doc_ids, texts):
            cs = np.frombuffer(txt.encode("utf-32-le"),
                               dtype=np.uint32).astype(np.int64)
            n = len(cs)
            if n >= _W + 1:
                win = np.lib.stride_tricks.sliding_window_view(cs, _W)
                # row k covers 1-based i = k + W; boundaries need
                # i >= W and i < n  ->  k in [0, n - W - 1]
                wh = (win[: n - _W] @ pw_win) % _P
                cut = np.flatnonzero(wh % _MASK == 0) + _W
            else:
                cut = np.empty(0, dtype=np.int64)
            bs = np.concatenate(([0], cut, [n])).astype(np.int64)
            # prefix Horner: Hp[e] = sum_{m=1..e} cs[m] * B^(e-m)
            #              = B^e * sum cs[m] * invB^m   (mod P)
            pw = _pow_table(n, _B)
            ipw = _pow_table(n, inv_b)
            s_mod = np.concatenate(
                ([0], np.cumsum(cs * ipw[1:] % _P) % _P))
            hp = s_mod * pw % _P
            st, en = bs[:-1], bs[1:]
            fp = (hp[en] - hp[st] * pw[en - st] % _P) % _P
            o_doc.extend([did] * len(fp))
            o_fp.extend(fp.tolist())
            o_ln.extend((en - st).tolist())
        yield pa.RecordBatch.from_arrays(
            [pa.array(o_doc, pa.int64()), pa.array(o_fp, pa.int64()),
             pa.array(o_ln, pa.int64())],
            names=["doc_id", "fp", "ln"])


_CDC_ORACLE = f"""
    WITH chars AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
               i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS cs
      FROM documents
      WHERE text IS NOT NULL AND length(text) >= 1
    ), bnd AS (
      SELECT doc_id, cs,
             flatten([[CAST(0 AS BIGINT)],
               list_filter(list_transform(range(1, len(cs) + 1),
                 i -> CASE WHEN i >= {_W} AND i < len(cs)
                            AND {_wh_sql('cs', 'i')} % {_MASK} = 0
                       THEN CAST(i AS BIGINT) END),
                 x -> x IS NOT NULL),
               [CAST(len(cs) AS BIGINT)]]) AS bs
      FROM chars
    ), ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(bs)), k -> {{
               'fp': list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(bs[k] + 1, bs[k + 1] + 1),
                                      m -> cs[m])),
                     (acc2, c2) -> (acc2 * {_B} + c2) % {_P}),
               'ln': bs[k + 1] - bs[k]}})) AS c
      FROM bnd
    )
    SELECT c.fp AS fp, c.ln AS chunk_len,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM ch
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """


@query("cdc_chunk_dedup", oracle=_CDC_ORACLE)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: cut every document where the
    8-char rolling Karp-Rabin hash is divisible by 64 (expected
    ~64-char chunks, boundaries realign across insertions), then
    fingerprint each chunk and report every (fingerprint, length)
    occurring more than once with its document spread — duplicated
    PASSAGES, not just duplicated documents. All integer arithmetic;
    DuckDB recomputes the identical boundaries and fingerprints.

    The boundary scan and chunk fold are JVM higher-order functions
    over the codepoint array — one narrow map per document, no
    Python, no shuffle until the final fingerprint GROUP BY (one
    shuffle, map-side combined). O(W * n) work per document.

    Scale: this is how 100-TB corpora dedup boilerplate — chunk
    fingerprints are tiny relative to text, the group-by key space
    is bounded by distinct content, and skew equals true duplication
    (a hot boilerplate chunk's count aggregates map-side; nothing
    materializes the duplicate text itself). Production would add
    min/max chunk-size clamps (documented out of scope here: the
    bare modular rule keeps the oracle 1:1)."""
    # r13 (guide §4.2): the boundary scan + chunk fold moved from
    # interpreted JVM higher-order lambdas (O(W) aggregate() evals
    # PER CHARACTER — the dominant cost, same lesson as the r5
    # triangle bitset build) to one vectorized numpy pass inside
    # mapInArrow: window hashes as a sliding dot product with the
    # Horner power vector, chunk fingerprints from a prefix-Horner
    # array via fp(s,e) = (Hp[e] - Hp[s]*B^(e-s)) mod P. All int64
    # with the same mod-1e9+7 reductions, bit-identical to the SQL
    # fold (oracle re-verified at sf0.001/0.01/0.1); overflow-safe:
    # every intermediate is < 2.4e17. Only (doc_id, text) crosses
    # the Python boundary, and only (doc_id, fp, ln) comes back.
    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull() & (F.length("text") >= 1))
            .select("doc_id", "text"))
    ch = docs.mapInArrow(_cdc_chunks_arrow, "doc_id long, fp long, ln long")
    return (ch.groupBy(F.col("fp"),
                       F.col("ln").alias("chunk_len"))
              .agg(F.countDistinct("doc_id").cast("bigint")
                    .alias("n_docs"),
                   F.count(F.lit(1)).cast("bigint").alias("n_occ"))
              .filter(F.col("n_occ") >= 2))
