"""Tier 44 — round-10 additions: maximal duplicated spans and the
persisted incremental ANN index.

* ``exact_substring_spans`` — extends tier 42's exact-substring
  dedup from duplicated POSITIONS to maximal duplicated SPANS, the
  actionable output of Lee et al., "Deduplicating Training Data
  Makes Language Models Better" (arXiv:2107.06499): the curation
  pipeline CUTS spans, so it needs per-doc [start, end) intervals,
  not a position census. Overlapping/adjacent L-char hits merge via
  gaps-and-islands (the pattern `gaps_islands` already certifies).

* ``incremental_ann_index`` — gives the similarity-search stack the
  continuous-ingest shape the dedup stack already has
  (`incremental_minhash_dedup`, tier 40): IVF cell assignments + PQ
  codes persist as a transactional `LakeTable`, a new batch APPENDs
  idempotently (crash-retry replay proven by the version count),
  and the query probes the UPDATED on-disk snapshot. The DuckDB
  oracle recomputes assignment + encoding + ADC from scratch on the
  union — incremental-equals-recompute, extended to ANN.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup rules over pandas frames);
both extend the LLM-data-pipeline mandate (BASELINE.json).

Exactness: spans are integer interval arithmetic over tier 42's
hash-verified dup positions; the ANN path reuses tier 22's
integer-quantization contract (floor(x*Q + 0.5) grid, BIGINT
distances, ties to the lowest id) so argmins and top-k orders are
engine-identical.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import local_frame
from ..sinks.lakehouse import LakeTable
from .registry import query
from .tier22 import (_DIM, _IVF_DIST, _IVF_K, _IVF_NPROBE, _PQ_D,
                     _PQ_K, _PQ_M, _QV_SPARK, _QV_SQL)
from .tier42 import _SS_CTES, _SS_L, _dup_positions

# ---------------------------------------------------------------------------
# exact_substring_spans — maximal duplicated spans (gaps-and-islands)
# ---------------------------------------------------------------------------

# Shared island CTE body (dedup positions -> merged maximal spans);
# composed into _SPAN_ORACLE here and tier45's _CUT_ORACLE, so the
# two oracles can never drift apart (mirrors tier42's _SS_CTES).
_ISLAND_CTES = f"""{_SS_CTES}, dp AS (
      SELECT g.doc_id, g.pos
      FROM g JOIN c USING (gram) WHERE c.cnt >= 2
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) <= {_SS_L}
                  THEN 0 ELSE 1 END AS b
      FROM dp
    ), isl AS (
      SELECT doc_id, pos,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS i
      FROM brk
    ), spans AS (
      SELECT doc_id, i, MIN(pos) AS s, MAX(pos) + {_SS_L} AS e
      FROM isl GROUP BY doc_id, i
    )"""

_SPAN_ORACLE = f"""
    WITH {_ISLAND_CTES}, per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(e - s) AS BIGINT) AS span_chars,
             CAST(MAX(e - s) AS BIGINT) AS max_span
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(per.n_spans, 0) AS n_spans,
           COALESCE(per.span_chars, 0) AS span_chars,
           COALESCE(per.max_span, 0) AS max_span
    FROM d LEFT JOIN per USING (doc_id)
"""


@query("exact_substring_spans", oracle=_SPAN_ORACLE)
def exact_substring_spans(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Maximal duplicated spans per document: every duplicated
    position (tier 42's definition — its L-char gram occurs >= 2
    times corpus-wide) covers the interval [pos, pos + L); intervals
    whose union is contiguous (next_pos - pos <= L) merge into one
    maximal span (gaps-and-islands: a break opens a new island, a
    running sum numbers them). Per doc: span count, total duplicated
    characters (the chars a Lee-et-al. cut would remove), and the
    longest single span.

    Scale: dup positions come from the hash-narrowed shared pipeline
    (``_dup_positions`` — the corpus-wide shuffles are 8-byte-keyed
    and the string verify touches only collided buckets); the
    island windows then shuffle ONLY the duplicated positions on
    doc_id — a sparse subset of corpus characters (a few percent on
    real crawls). Island numbering is a per-doc running sum, not a
    global sort; the final left join carries SHUFFLE_HASH (per-doc
    aggregates are a data-dimension frame, never broadcast)."""
    d, dup_rows = _dup_positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= _SS_L,
                 0).otherwise(1)
    isl = (dup_rows.select("doc_id", "pos")
           .withColumn("b", brk)
           .withColumn("i", F.sum("b").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    spans = isl.groupBy("doc_id", "i").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(_SS_L)).alias("e"))
    per = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("bigint")
         .alias("span_chars"),
        F.max(F.col("e") - F.col("s")).cast("bigint")
         .alias("max_span"))
    return (d.select("doc_id")
            .join(per.hint("shuffle_hash"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_spans", F.lit(0)).cast("bigint")
                     .alias("n_spans"),
                    F.coalesce("span_chars", F.lit(0)).cast("bigint")
                     .alias("span_chars"),
                    F.coalesce("max_span", F.lit(0)).cast("bigint")
                     .alias("max_span")))


# ---------------------------------------------------------------------------
# incremental_ann_index — persisted IVF + PQ index, probed from disk
# ---------------------------------------------------------------------------

_ANN_TOPN = 10


def _ann_index_parts(spark: SparkSession, sf_dir: str):
    """Shared IVF+PQ construction for the incremental ANN family:
    returns ``(index_df(vec_id, cid, code), probe_cells, tq)`` where
    ``code`` bit-packs the {m} per-subspace PQ codes (4 bits each),
    ``probe_cells`` are the query's {np} nearest cells and ``tq`` is
    the query's integer ADC subdistance table — all on tier 22's
    integer-quantization contract (ties to the lowest id on both
    engines)."""
    em = load(spark, sf_dir, "embeddings")
    vecs = em.select("vec_id", F.expr(_QV_SPARK).alias("qv"))
    head = {int(r["vec_id"]): [int(x) for x in r["qv"]]
            for r in vecs.filter(F.col("vec_id") < _PQ_K).collect()}
    if len(head) < _PQ_K:
        raise ValueError("incremental ANN: need vec_ids 0..%d"
                         % (_PQ_K - 1))
    q0 = head[0]

    # --- index construction: cid + packed PQ code per vector -------
    cent_lit = F.expr("array(%s)" % ",".join(
        "array(%s)" % ",".join(f"{x}L" for x in head[c])
        for c in range(_IVF_K)))
    cdists = F.transform(
        cent_lit,
        lambda c: F.aggregate(
            F.zip_with("qv", c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"), lambda acc, v: acc + v))
    cid = (F.array_position(cdists, F.array_min(cdists)) - 1) \
        .cast("bigint")

    cbs = [[head[c][_PQ_D * s:_PQ_D * (s + 1)]
            for c in range(_PQ_K)] for s in range(_PQ_M)]
    packed = None
    for s in range(_PQ_M):
        cb_lit = "array(%s)" % ",".join(
            "array(%s)" % ",".join(f"{x}L" for x in cbs[s][c])
            for c in range(_PQ_K))
        sub = F.expr(
            f"transform({cb_lit}, cw -> aggregate("
            f" zip_with(slice(qv, {_PQ_D * s + 1}, {_PQ_D}), cw,"
            "  (x, y) -> (x - y) * (x - y)),"
            " cast(0 as bigint), (a, b) -> a + b))")
        code0 = (F.array_position(sub, F.array_min(sub)) - 1) \
            .cast("bigint")
        term = F.shiftleft(code0, 4 * s)
        packed = term if packed is None else packed + term
    index = vecs.select("vec_id", cid.alias("cid"),
                        packed.alias("code"))

    # --- query-side metadata (driver, from the 16 head rows) -------
    def _d(u, v):
        return sum((a - b) * (a - b) for a, b in zip(u, v))

    probes = [c for _, c in sorted(
        (_d(q0, head[c]), c) for c in range(_IVF_K))[:_IVF_NPROBE]]
    # tq[s][c] = integer subdistance of the query to code c of
    # subspace s — the ADC lookup table
    tq = [[sum((q0[_PQ_D * s + d] - cbs[s][c][d]) ** 2
               for d in range(_PQ_D))
           for c in range(_PQ_K)] for s in range(_PQ_M)]
    return index, probes, tq


def _ann_probe(idx: DataFrame, probes, tq, version: int,
               extra_filter=None) -> DataFrame:
    """Rank the on-disk index snapshot by integer ADC over the probed
    cells; bounded top-{n} result carrying the table version."""
    adc = None
    for s in range(_PQ_M):
        tq_lit = F.expr("array(%s)" % ",".join(
            f"{x}L" for x in tq[s]))
        code_s = (F.shiftright(F.col("code"), 4 * s)
                  .bitwiseAND(F.lit(15)) + 1).cast("int")
        term = F.element_at(tq_lit, code_s)
        adc = term if adc is None else adc + term
    cond = (F.col("cid").isin([int(p) for p in probes])
            & (F.col("vec_id") != 0))
    if extra_filter is not None:
        cond = cond & extra_filter
    return (idx.filter(cond)
            .select("vec_id", adc.cast("bigint").alias("adc_dist"),
                    "cid",
                    F.lit(version).cast("bigint").alias("n_versions"))
            .orderBy("adc_dist", "vec_id").limit(_ANN_TOPN))


_ANN_ORACLE = f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, {_QV_SQL} AS qv FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, qv AS cv FROM qv WHERE vec_id < {_IVF_K}
    ), q AS (
      SELECT qv AS qq FROM qv WHERE vec_id = 0
    ), asg AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {_IVF_DIST.format(dim=_DIM, a='v.qv', b='c.cv')},
                 c.cid) AS rn
        FROM qv v CROSS JOIN cents c)
      WHERE rn = 1
    ), probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY
                 {_IVF_DIST.format(dim=_DIM, a='q.qq', b='c.cv')},
                 c.cid) AS rn
        FROM cents c CROSS JOIN q)
      WHERE rn <= {_IVF_NPROBE}
    ), cb AS (
      SELECT t.s, v.vec_id AS c, d.d,
             v.qv[{_PQ_D} * t.s + d.d] AS val
      FROM qv v
      CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) t
      CROSS JOIN (SELECT unnest(range(1, {_PQ_D} + 1)) AS d) d
      WHERE v.vec_id < {_PQ_K}
    ), sd AS (
      SELECT v.vec_id, b.s, b.c,
             SUM((v.qv[{_PQ_D} * b.s + b.d] - b.val)
                 * (v.qv[{_PQ_D} * b.s + b.d] - b.val)) AS dist
      FROM qv v CROSS JOIN cb b
      GROUP BY 1, 2, 3
    ), enc AS (
      SELECT vec_id, s, c FROM (
        SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, c) AS rn
        FROM sd)
      WHERE rn = 1
    ), adc AS (
      SELECT e.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
      FROM enc e
      JOIN (SELECT s, c, dist FROM sd WHERE vec_id = 0) qd
        ON qd.s = e.s AND qd.c = e.c
      GROUP BY 1
    )
    SELECT a.vec_id, adc.adc_dist, a.cid,
           CAST(2 AS BIGINT) AS n_versions
    FROM asg a
    JOIN probes p ON p.cid = a.cid
    JOIN adc ON adc.vec_id = a.vec_id
    WHERE a.vec_id <> 0
    ORDER BY adc.adc_dist, a.vec_id LIMIT {_ANN_TOPN}
"""


@query("incremental_ann_index", oracle=_ANN_ORACLE)
def incremental_ann_index(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """ANN search over a PERSISTED, INCREMENTALLY-GROWN index — the
    continuous-ingest counterpart of ``ivf_probe_exact`` +
    ``ann_pq_exact`` (tier 22), mirroring the lakehouse pattern
    ``incremental_minhash_dedup`` (tier 40) certifies for dedup:

    1. every vector is IVF-assigned (integer argmin over the
       {k}-cell literal centroid table, ties to the lowest cid) and
       PQ-ENCODED ({m} subspaces x {kk} codes, argmin ties to the
       lowest code) — codes PACK into one BIGINT (4 bits/subspace),
       the production byte-packed PQ layout;
    2. the standing corpus's (vec_id, cid, code) rows become a
       `LakeTable` (one atomic manifest commit); the new batch
       (every 5th vec) APPENDs — replayed once with the same
       batch_id to prove idempotent crash-retry (version stays 2);
    3. the query (vec 0) probes its {np} nearest cells in the
       UPDATED index read BACK FROM DISK via the manifest and ranks
       candidates by Asymmetric Distance Computation — integer
       subdistance lookups at each candidate's unpacked codes;
    4. the top-{n} (adc_dist, vec_id) order is total, so the result
       set and order are engine-identical; ``n_versions`` certifies
       the replay was a no-op.

    The oracle recomputes assignment, encoding and ADC from scratch
    over the union — a single lost, duplicated or corrupted index
    row (or a non-idempotent replay) changes the candidate set or
    duplicates an output row, and the hash fails.

    Scale: the index row is 3 BIGINTs per vector regardless of
    embedding dimensionality — the table a 100 TB corpus actually
    persists (the raw vectors stay in the corpus files). Assignment
    + encoding are narrow maps against M*K*D = 1024 literal ints
    (no shuffle, the ivf_assign pattern); ingest cost is |batch|
    only; the probe filter prunes to ~nprobe/k of the index before
    the TakeOrdered top-{n}. Driver traffic: {kk} head rows of
    codebook metadata and the top-{n} result."""
    index, probes, tq = _ann_index_parts(spark, sf_dir)
    is_new = F.col("vec_id") % 5 == 0
    root = tempfile.mkdtemp(prefix="etl_incr_ann_")
    try:
        t = LakeTable.create(spark, root, index.filter(~is_new),
                             batch_id="ann-base")
        t.append(index.filter(is_new), batch_id="batch-1")
        t.append(index.filter(is_new), batch_id="batch-1")  # replay
        res = _ann_probe(t.snapshot(), probes, tq, t.version())
        # bounded driver materialization (top-{n} rows) so the
        # on-disk index can be cleaned up before returning
        rows = res.collect()
        return local_frame(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


incremental_ann_index.__doc__ = incremental_ann_index.__doc__.format(
    k=_IVF_K, m=_PQ_M, kk=_PQ_K, np=_IVF_NPROBE, n=_ANN_TOPN)


# ---------------------------------------------------------------------------
# incremental_ann_retire — the DELETE half of the persisted ANN index
# ---------------------------------------------------------------------------

_AR_MOD, _AR_REM = 7, 3  # retired slice: vec_id % 7 == 3

_AR_ORACLE = f"""
    WITH qv AS MATERIALIZED (
      SELECT vec_id, {_QV_SQL} AS qv FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, qv AS cv FROM qv WHERE vec_id < {_IVF_K}
    ), q AS (
      SELECT qv AS qq FROM qv WHERE vec_id = 0
    ), asg AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {_IVF_DIST.format(dim=_DIM, a='v.qv', b='c.cv')},
                 c.cid) AS rn
        FROM qv v CROSS JOIN cents c)
      WHERE rn = 1
    ), probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY
                 {_IVF_DIST.format(dim=_DIM, a='q.qq', b='c.cv')},
                 c.cid) AS rn
        FROM cents c CROSS JOIN q)
      WHERE rn <= {_IVF_NPROBE}
    ), cb AS (
      SELECT t.s, v.vec_id AS c, d.d,
             v.qv[{_PQ_D} * t.s + d.d] AS val
      FROM qv v
      CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) t
      CROSS JOIN (SELECT unnest(range(1, {_PQ_D} + 1)) AS d) d
      WHERE v.vec_id < {_PQ_K}
    ), sd AS (
      SELECT v.vec_id, b.s, b.c,
             SUM((v.qv[{_PQ_D} * b.s + b.d] - b.val)
                 * (v.qv[{_PQ_D} * b.s + b.d] - b.val)) AS dist
      FROM qv v CROSS JOIN cb b
      GROUP BY 1, 2, 3
    ), enc AS (
      SELECT vec_id, s, c FROM (
        SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, c) AS rn
        FROM sd)
      WHERE rn = 1
    ), adc AS (
      SELECT e.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
      FROM enc e
      JOIN (SELECT s, c, dist FROM sd WHERE vec_id = 0) qd
        ON qd.s = e.s AND qd.c = e.c
      GROUP BY 1
    )
    SELECT a.vec_id, adc.adc_dist, a.cid,
           CAST(2 AS BIGINT) AS n_versions
    FROM asg a
    JOIN probes p ON p.cid = a.cid
    JOIN adc ON adc.vec_id = a.vec_id
    WHERE a.vec_id <> 0 AND a.vec_id % {_AR_MOD} <> {_AR_REM}
    ORDER BY adc.adc_dist, a.vec_id LIMIT {_ANN_TOPN}
"""


@query("incremental_ann_retire", oracle=_AR_ORACLE)
def incremental_ann_retire(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """The DELETE half of the persisted ANN index — completes the
    create/append/retire lifecycle (`incremental_dedup_retire` is
    the dedup-stack counterpart, tier 41): the full corpus's
    (vec_id, cid, code) rows commit as v1; a retirement batch
    (vec_id % {m} == {r} — takedowns, opted-out sources) is
    ``delete_where``'d out (v2), the SAME batch_id replayed once to
    prove the crash-retry is a manifest no-op (version must stay 2);
    the query then probes the post-retire ON-DISK snapshot. The
    oracle recomputes assignment/encoding/ADC from scratch over the
    surviving corpus — one stale, resurrected or over-deleted index
    row changes the top-{n} and fails the hash; the PQ codebook is
    head-row metadata and legitimately survives its source vectors'
    retirement (codebooks are model artifacts, not corpus rows).

    Scale: retirement is the lakehouse file-granular DELETE — one
    scan locates files holding matches, only those rewrite; probe
    cost is unchanged (~nprobe/k of the index). Driver traffic: the
    {kk} head rows and the top-{n} result."""
    index, probes, tq = _ann_index_parts(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="etl_ann_retire_")
    try:
        t = LakeTable.create(spark, root, index, batch_id="ann-base")
        cond = F.col("vec_id") % _AR_MOD == _AR_REM
        t.delete_where(cond, batch_id="retire-1")
        t.delete_where(cond, batch_id="retire-1")   # replay: no-op
        res = _ann_probe(t.snapshot(), probes, tq, t.version())
        # bounded driver materialization (top-{n} rows) so the
        # on-disk index can be cleaned up before returning
        rows = res.collect()
        return local_frame(spark, rows, res.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


incremental_ann_retire.__doc__ = incremental_ann_retire.__doc__.format(
    m=_AR_MOD, r=_AR_REM, kk=_PQ_K, n=_ANN_TOPN)
