"""Tier 42 — round-9 widening: audio modality, exact substring
dedup, lakehouse time travel, late-interaction retrieval.

1. `wav_decode_exact` — the audio leg of the multimodal surface
   (PNG tier 24, JPEG tier 40, video tier 24): real RIFF/WAVE PCM16
   encode -> decode (`operators/wav.py`) -> integer sample stats,
   hash-matched against DuckDB recomputing the synthetic sample rule
   directly (the oracle never sees a WAV byte). PCM is lossless, so
   no construction trick is needed — decode(encode(x)) == x.

2. `exact_substring_dedup` — the Lee et al. ("Deduplicating Training
   Data Makes Language Models Better", ACL 2022) exact-substring
   family, Spark-first: every character position emits its fixed-L
   gram, a hash-group counts global occurrences (map-side combine),
   and positions whose gram occurs >= 2 times anywhere in the corpus
   are duplicated span starts. Linear in total characters — the
   scalable equivalent of the paper's suffix array.

3. `lakehouse_time_travel` — `LakeTable.snapshot(version=k)` behind
   the oracle gate: after create -> append -> delete -> merge, the
   VERSION-2 read must reproduce the pre-delete state byte-for-byte
   while the head read reflects all four commits. Until now time
   travel had pytest coverage only (tests/test_lakehouse.py); this
   key puts it behind the DuckDB hash.

4. `late_interaction_maxsim` — ColBERT-style MaxSim scoring
   (Khattab & Zaharia, SIGIR 2020): each embedding is sliced into 8
   pseudo-token sub-vectors, score(q, d) = sum over query tokens of
   the max dot product against any doc token. Integer-quantized
   (floor(x*1000 + 0.5)) so the gate is exact; all-JVM higher-order
   functions (zip_with / transform / aggregate), no UDF.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup rules over pandas frames);
these keys extend the multimodal, dedup, lakehouse, and similarity
families SURVEY.md §2.2 declares for the 100 TB training-data
pipeline.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..session import local_frame, pin
from ..sinks.lakehouse import LakeTable
from .registry import query

# ---------------------------------------------------------------------------
# wav_decode_exact — audio modality behind the exact gate
# ---------------------------------------------------------------------------

WAV_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("sample_rate", T.LongType()),
    T.StructField("channels", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("s_sum", T.LongType()),
    T.StructField("s_min", T.LongType()),
    T.StructField("s_max", T.LongType()),
    T.StructField("s_wsum", T.LongType()),
])

_WAV_ORACLE = """
    WITH p AS (
      SELECT doc_id,
             120 + (doc_id % 31) * 7 AS n_frames,
             1 + doc_id % 2 AS channels,
             8000 + 125 * (doc_id % 5) AS rate
      FROM documents
    ), s AS (
      SELECT doc_id, n_frames, channels, rate,
             unnest(range(0, n_frames * channels)) AS j
      FROM p
    ), v AS (
      SELECT doc_id, n_frames, channels, rate, j,
             ((doc_id * 1103515245 + j * 12345 + 1013904223) % 65536)
               - 32768 AS smp
      FROM s
    )
    SELECT doc_id,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(channels AS BIGINT) AS channels,
           CAST((n_frames * 1000) // rate AS BIGINT) AS duration_ms,
           CAST(SUM(smp) AS BIGINT) AS s_sum,
           CAST(MIN(smp) AS BIGINT) AS s_min,
           CAST(MAX(smp) AS BIGINT) AS s_max,
           CAST(SUM((j + 1) * (smp + 32768) % 1000000007)
                % 1000000007 AS BIGINT) AS s_wsum
    FROM v
    GROUP BY doc_id, n_frames, channels, rate
"""


@query("wav_decode_exact", oracle=_WAV_ORACLE)
def wav_decode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV encode -> real WAV decode -> integer sample stats,
    hash-matched against DuckDB recomputing the sample rule directly
    (the tier-24/40 codec trick, extended to audio; the oracle never
    sees a WAV byte). PCM16 is lossless, so the round trip is exact
    with no input construction: the synthetic clips vary frame
    count, channel count (mono/stereo), and sample rate per doc, and
    ``s_wsum`` is position-weighted, so a decoder that dropped a
    chunk pad, mis-read block align, or swapped channels cannot
    pass.

    Scale: same posture as the image codecs — two Arrow-batched
    mapInPandas stages (synthesize payloads standing in for an
    object-store read; decode + per-clip stats), one Python crossing
    per batch, per-clip cost tracks payload bytes."""
    from collections.abc import Iterator

    from ..operators.wav import decode_wav_pcm16, encode_wav_pcm16

    import numpy as np
    import pandas as pd

    payload_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])

    def synth(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                d = int(d)
                n_frames = 120 + (d % 31) * 7
                channels = 1 + d % 2
                rate = 8000 + 125 * (d % 5)
                j = np.arange(n_frames * channels, dtype=np.int64)
                smp = ((d * 1103515245 + j * 12345 + 1013904223)
                       % 65536) - 32768
                payloads.append(encode_wav_pcm16(
                    smp.astype("<i2").tobytes(), rate, channels))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    def stats(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pcm, rate, channels = decode_wav_pcm16(bytes(payload))
                smp = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
                n_frames = smp.size // channels
                j = np.arange(smp.size, dtype=np.int64)
                wsum = int(((j + 1) * (smp + 32768) % 1000000007).sum()
                           % 1000000007)
                rows.append((int(doc_id), n_frames, rate, channels,
                             (n_frames * 1000) // rate, int(smp.sum()),
                             int(smp.min()), int(smp.max()), wsum))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              WAV_STATS_SCHEMA])

    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id").mapInPandas(synth,
                                              schema=payload_schema)
    return payloads.mapInPandas(stats, schema=WAV_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# exact_substring_dedup — Lee et al. duplicated-span detection
# ---------------------------------------------------------------------------

_SS_L = 25  # duplicated-span gram length (characters)

# shared CTE prefix for the exact-substring family (also used by
# tier 44's exact_substring_spans): docs -> positions -> grams ->
# per-gram global counts.
_SS_CTES = f"""d AS (
      SELECT doc_id, text, length(text) AS n FROM documents
    ), g0 AS (
      SELECT doc_id, text,
             unnest(range(1, n - {_SS_L - 2})) AS pos
      FROM d WHERE n >= {_SS_L}
    ), g AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             substr(text, CAST(pos AS INT), {_SS_L}) AS gram
      FROM g0
    ), c AS (
      SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
    )"""

_SS_ORACLE = f"""
    WITH {_SS_CTES}, p AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_pos,
             CAST(COALESCE(MIN(CASE WHEN c.cnt >= 2 THEN g.pos END),
                           -1) AS BIGINT) AS first_dup_pos
      FROM g JOIN c USING (gram) GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_dup_pos, 0) AS n_dup_pos,
           COALESCE(p.first_dup_pos, -1) AS first_dup_pos,
           CASE WHEN COALESCE(p.n_grams, 0) > 0
                THEN (10000 * p.n_dup_pos) // p.n_grams
                ELSE 0 END AS dup_bp
    FROM d LEFT JOIN p USING (doc_id)
"""


def _dup_positions(spark: SparkSession,
                   sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared pipeline for the exact-substring family: returns
    ``(docs(doc_id, n), dup_rows(doc_id, pos, gram))`` where a dup
    row is a position whose L-char gram occurs >= 2 times corpus-wide
    — counted on xxhash64(gram) 8-byte keys and exactly verified on
    the gram string within collided buckets (see
    ``exact_substring_dedup`` for the scale rationale)."""
    d = (load(spark, sf_dir, "documents")
         .select("doc_id", "text", F.length("text").alias("n")))
    g = (d.filter(F.col("n") >= _SS_L)
         .select("doc_id", "text",
                 F.explode(F.sequence(F.lit(1),
                                      F.col("n") - (_SS_L - 1)))
                  .alias("pos"))
         .select("doc_id", F.col("pos").cast("bigint").alias("pos"),
                 F.col("text").substr(F.col("pos"), F.lit(_SS_L))
                  .alias("gram"))
         .withColumn("_h", F.xxhash64("gram")))
    coll = (g.groupBy("_h").agg(F.count(F.lit(1)).alias("hcnt"))
            .filter(F.col("hcnt") >= 2).select("_h"))
    # Exact verify inside collided buckets WITHOUT a sort: the old
    # Window.partitionBy(_h, gram) count sorted every collided row
    # per core and spilled 78 GB at sf30 (SCALE.md r12) even though
    # the shuffle itself stayed plan-linear.  A hash groupBy is
    # map-side combinable (partials collapse duplicated grams before
    # the wire, so the agg shuffle carries ~distinct collided grams,
    # not collided positions) and never sorts; the semi-join back
    # re-attaches (doc_id, pos) and MUST stay shuffle-hash — without
    # the hint Spark plans a sort-merge join, re-introducing the
    # exact per-core sort this removes.  gv feeds both the agg and
    # the probe side; column pruning makes the two subtrees differ,
    # so static ReuseExchange cannot dedupe them and the CPU-heavy
    # explode would run once per consumer under an AQE scheduling
    # race (the r12 bimodality signature, BENCH_r12_note.md) — pin
    # it once, mirroring the oracle's materialized `g` CTE, exactly
    # the tier26/tier27 fix pattern.
    gv = pin(g.join(coll.hint("shuffle_hash"), "_h", "left_semi"), eager=False)
    gc = (gv.groupBy("_h", "gram")
          .agg(F.count(F.lit(1)).alias("gcnt"))
          .filter(F.col("gcnt") >= 2).select("_h", "gram"))
    dup_rows = (gv.join(gc.hint("shuffle_hash"), ["_h", "gram"],
                        "left_semi")
                .select("doc_id", "pos", "gram"))
    return d, dup_rows


@query("exact_substring_dedup", oracle=_SS_ORACLE)
def exact_substring_dedup(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection at fixed span length L=25
    — the hash-group equivalent of Lee et al.'s suffix-array exact
    substring dedup: a position is a duplicated-span start iff its
    L-char gram occurs >= 2 times anywhere in the corpus (another
    doc or another position of the same doc). Per doc: gram count,
    duplicated-position count, first duplicated position (-1 if
    none), and coverage in basis points — the quantities a curation
    pipeline thresholds on before cutting spans.

    Plan (round 10: hash-narrowed shuffle keys + exact collision
    verify). The >= 2-occurrence test runs in two exact stages:

    1. count positions per ``xxhash64(gram)`` — the count shuffle
       carries (8-byte key, count) partials with map-side combine,
       ~4x lighter than the old 25-char-string partials;
    2. only positions whose HASH collided (hcnt >= 2 — a superset of
       duplicated grams, since equal grams always share a hash) are
       verified on the gram string itself: a window count over
       (hash, gram) restores the exact per-gram global count inside
       the collided subset, so a 64-bit collision between DIFFERENT
       grams (~N^2/2^64 expected at 100 TB — real, not negligible)
       can never mark a unique gram duplicated. False negatives are
       impossible; false positives are verified away. The verify
       shuffle moves ONLY the collided subset's strings, not the
       corpus.

    The per-doc aggregate then runs over the duplicated positions
    alone (the old plan re-aggregated every corpus position);
    ``n_grams`` is arithmetic (n - L + 1), not a count. Joins carry
    SHUFFLE_HASH hints: their small-LOOKING sides (collided-hash
    set, per-doc dup aggregates) are DATA-dimension frames, and at
    the sf10 rehearsal AQE's compressed-size estimate once tried to
    broadcast ~1 GiB of per-doc aggregate to the driver — the hint
    pins the scan-shaped plan at every scale."""
    d, dup_rows = _dup_positions(spark, sf_dir)
    p = dup_rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pos"),
        F.min("pos").cast("bigint").alias("first_dup_pos"))
    ng = F.greatest(F.col("n") - F.lit(_SS_L - 1), F.lit(0))
    return (d.select("doc_id", ng.cast("bigint").alias("n_grams"))
            .join(p.hint("shuffle_hash"), "doc_id", "left")
            .select("doc_id", "n_grams",
                    F.coalesce("n_dup_pos", F.lit(0)).cast("bigint")
                     .alias("n_dup_pos"),
                    F.coalesce("first_dup_pos", F.lit(-1))
                     .cast("bigint").alias("first_dup_pos"),
                    F.when(F.col("n_grams") > 0,
                           F.expr("(10000 * coalesce(n_dup_pos, 0))"
                                  " div n_grams"))
                     .otherwise(0).cast("bigint").alias("dup_bp")))


# ---------------------------------------------------------------------------
# lakehouse_time_travel — snapshot(version=k) behind the oracle gate
# ---------------------------------------------------------------------------

_TT_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"

_TT_ORACLE = f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             {_TT_CENTS} AS cents
      FROM orders WHERE o_orderkey % 3 <> 0
    ), app AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             {_TT_CENTS} + 55 AS cents
      FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0
    ), v2 AS (
      SELECT * FROM base UNION ALL SELECT * FROM app
    ), v3 AS (
      SELECT * FROM v2 WHERE k % 10 <> 7
    ), u AS (
      SELECT o_orderkey AS k, 'M' AS status, {_TT_CENTS} + 777 AS cents
      FROM orders WHERE o_orderkey % 5 = 1
    ), v4 AS (
      SELECT COALESCE(u.k, m.k) AS k,
             CASE WHEN u.k IS NOT NULL THEN u.status
                  ELSE m.status END AS status,
             CASE WHEN u.k IS NOT NULL THEN u.cents
                  ELSE m.cents END AS cents
      FROM v3 m FULL OUTER JOIN u ON m.k = u.k
    ), s AS (
      SELECT 'v2' AS as_of, status,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(SUM(k) AS BIGINT) AS key_sum
      FROM v2 GROUP BY status
      UNION ALL
      SELECT 'head' AS as_of, status,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(SUM(k) AS BIGINT) AS key_sum
      FROM v4 GROUP BY status
    )
    SELECT as_of, status, n_rows, sum_cents, key_sum,
           CAST(4 AS BIGINT) AS n_versions
    FROM s
"""


@query("lakehouse_time_travel", oracle=_TT_ORACLE)
def lakehouse_time_travel(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Time travel as a declared query: create (v1) -> append (v2) ->
    delete (v3) -> merge (v4), then read BOTH `snapshot(version=2)`
    and the head snapshot from the same table and aggregate each.
    The v2 read runs AFTER the delete and merge committed, so it
    certifies that old manifests remain readable and pin exactly the
    pre-delete file set — a row leaked from v3's rewrite or v4's
    merge into the v2 read changes the hash. The oracle replays the
    four batches as pure SQL and computes both states independently.

    Scale: time travel is manifest selection — the v2 read plans
    from version 2's file list (no data copied, files shared by
    reference across versions), so reading any historical version
    costs the same scan as head. The only driver materialization is
    the <= 2x|statuses| result frame so the temp table can be
    cleaned up before returning."""
    orders = load(spark, sf_dir, "orders")

    def slice_(where: str, cents_expr: str,
               status_col: Column) -> DataFrame:
        return (orders.filter(F.expr(where))
                .select(F.col("o_orderkey").alias("k"),
                        status_col.alias("status"),
                        F.expr(cents_expr).alias("cents")))

    root = tempfile.mkdtemp(prefix="etl_time_travel_")
    try:
        t = LakeTable.create(
            spark, root,
            slice_("o_orderkey % 3 <> 0", _TT_CENTS,
                   F.col("o_orderstatus")),
            batch_id="create")
        t.append(
            slice_("o_orderkey % 3 = 0 AND o_orderkey % 2 = 0",
                   f"{_TT_CENTS} + 55", F.col("o_orderstatus")),
            batch_id="append-1")
        t.delete_where(F.expr("k % 10 = 7"), batch_id="delete-1")
        t.merge(
            slice_("o_orderkey % 5 = 1", f"{_TT_CENTS} + 777",
                   F.lit("M")),
            "k", batch_id="merge-1")
        assert t.version() == 4, "commit count drifted"

        def agg(df: DataFrame, asof: str) -> DataFrame:
            return (df.groupBy("status")
                    .agg(F.count(F.lit(1)).cast("bigint")
                          .alias("n_rows"),
                         F.sum("cents").cast("bigint")
                          .alias("sum_cents"),
                         F.sum("k").cast("bigint").alias("key_sum"))
                    .select(F.lit(asof).alias("as_of"), "status",
                            "n_rows", "sum_cents", "key_sum"))

        out = (agg(t.snapshot(version=2), "v2")
               .unionByName(agg(t.snapshot(), "head"))
               .withColumn("n_versions",
                           F.lit(t.version()).cast("bigint")))
        # bounded driver materialization (<= 2x|statuses| rows) so
        # the on-disk table can be cleaned up before returning
        rows = out.collect()
        return local_frame(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# lakehouse_schema_evolution — additive ADD-COLUMN appends
# ---------------------------------------------------------------------------

_SE_ORACLE = f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             {_TT_CENTS} AS cents, CAST(NULL AS VARCHAR) AS channel
      FROM orders WHERE o_orderkey % 2 = 0
    ), evo AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             {_TT_CENTS} AS cents,
             CASE WHEN o_orderkey % 3 = 0 THEN 'web'
                  ELSE 'app' END AS channel
      FROM orders WHERE o_orderkey % 2 = 1
    ), t AS (
      SELECT * FROM base UNION ALL SELECT * FROM evo
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(2 AS BIGINT) AS n_versions,
           CAST(3 AS BIGINT) AS v1_ncols,
           CAST(4 AS BIGINT) AS head_ncols
    FROM t GROUP BY channel
"""


@query("lakehouse_schema_evolution", oracle=_SE_ORACLE)
def lakehouse_schema_evolution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """ADD-COLUMN schema evolution behind the oracle gate (the
    Delta/Iceberg ``mergeSchema`` contract, additive subset): a table
    created WITHOUT ``channel`` takes an evolved append that carries
    it (replayed once — idempotence must survive evolution), and the
    head read null-fills the legacy files' new column WITHOUT
    rewriting a byte of them. The NULL channel group IS the legacy
    rows — a reader that dropped them, rewrote them, or defaulted the
    column to anything but NULL changes the hash; ``v1_ncols``
    certifies time travel still shows the PRE-evolution schema.

    Scale: evolution is a manifest-only operation — the commit
    rewrites zero existing files regardless of table size (the
    parquet reader null-fills absent columns when the read imposes
    the manifest schema), exactly how 100 TB tables add columns. The
    only driver materialization is the <= |channels|+1 result frame
    so the temp table can be cleaned up before returning."""
    orders = load(spark, sf_dir, "orders")
    base = (orders.filter(F.expr("o_orderkey % 2 = 0"))
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_orderstatus").alias("status"),
                    F.expr(_TT_CENTS).alias("cents")))
    evo = (orders.filter(F.expr("o_orderkey % 2 = 1"))
           .select(F.col("o_orderkey").alias("k"),
                   F.col("o_orderstatus").alias("status"),
                   F.expr(_TT_CENTS).alias("cents"),
                   F.when(F.expr("o_orderkey % 3 = 0"), "web")
                    .otherwise("app").alias("channel")))
    root = tempfile.mkdtemp(prefix="etl_schema_evo_")
    try:
        t = LakeTable.create(spark, root, base, batch_id="create")
        t.append(evo, batch_id="evolve-1", schema_evolution=True)
        t.append(evo, batch_id="evolve-1",
                 schema_evolution=True)       # replay: no-op
        assert t.version() == 2, "evolved-append replay advanced"
        v1_ncols = len(t.snapshot(version=1).columns)
        out = (t.snapshot()
               .groupBy("channel")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.sum("cents").cast("bigint").alias("sum_cents"),
                    F.sum("k").cast("bigint").alias("key_sum"))
               .withColumn("n_versions",
                           F.lit(t.version()).cast("bigint"))
               .withColumn("v1_ncols",
                           F.lit(v1_ncols).cast("bigint"))
               .withColumn("head_ncols",
                           F.lit(len(t.snapshot().columns))
                            .cast("bigint")))
        # bounded driver materialization (<= |channels|+1 rows) so
        # the on-disk table can be cleaned up before returning
        rows = out.collect()
        return local_frame(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# late_interaction_maxsim — ColBERT MaxSim over pseudo-token slices
# ---------------------------------------------------------------------------

_LI_TOKENS = 8     # pseudo-tokens per embedding (64 dims / 8)
_LI_DIM = 8        # dims per pseudo-token
_LI_K = 5          # results per query

_LI_ORACLE = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000 + 0.5)
                                      AS BIGINT)) AS q
      FROM embeddings
    ), toks AS (
      SELECT vec_id, t AS tok,
             list_slice(q, {_LI_DIM} * t + 1,
                        {_LI_DIM} * t + {_LI_DIM}) AS v
      FROM e, (SELECT unnest(range({_LI_TOKENS})) AS t)
    ), qt AS (
      SELECT * FROM toks WHERE vec_id < 4
    ), dots AS (
      SELECT q.vec_id AS query_id, d.vec_id AS vec_id, q.tok,
             MAX(CAST(list_dot_product(q.v, d.v) AS BIGINT)) AS m
      FROM qt q JOIN toks d ON d.vec_id <> q.vec_id
      GROUP BY q.vec_id, d.vec_id, q.tok
    ), scored AS (
      SELECT query_id, vec_id, CAST(SUM(m) AS BIGINT) AS score
      FROM dots GROUP BY query_id, vec_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, score, rank
    FROM ranked WHERE rank <= {_LI_K}
"""


@query("late_interaction_maxsim", oracle=_LI_ORACLE)
def late_interaction_maxsim(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction: slice each 64-d embedding into
    8 pseudo-token sub-vectors; score(q, d) = sum over q's tokens of
    the MAX dot product against any of d's tokens; exact top-5 per
    query with deterministic (score desc, vec_id asc) tie-break.
    Embeddings are integer-quantized (floor(x*1000 + 0.5)) so every
    dot/max/sum is BIGINT-exact across engines.

    Plan: all-JVM higher-order functions — zip_with for the token
    dot, transform + array_max for the per-query-token max,
    aggregate for the token sum; the 4-query probe side carries a
    plan-visible limit(4) and broadcasts, so the join is one scan
    over the corpus with no shuffle before the bounded top-k (the
    embedding_knn posture). At 100 TB the same plan holds: probe
    batches broadcast, MaxSim evaluates scan-side, only k rows per
    query survive to the rank exchange."""
    em = load(spark, sf_dir, "embeddings")
    qz = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(1000.0) + F.lit(0.5))
                   .cast("bigint"))
    toks = F.array(*[F.slice("_q", _LI_DIM * t + 1, _LI_DIM)
                     for t in range(_LI_TOKENS)])
    base = (em.select(F.col("vec_id"), qz.alias("_q"))
            .select("vec_id", toks.alias("_toks")))
    # limit(4): plan-visible probe bound (see ann_ivf_knn) — a no-op
    # on the 4 matching rows, but it lets the plan audit PROVE the
    # non-equi join's small side
    probe = (base.filter(F.col("vec_id") < 4).limit(4)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("_toks").alias("_qtoks")))

    def dot(qt: Column, dt: Column) -> Column:
        return F.aggregate(F.zip_with(qt, dt, lambda a, b: a * b),
                           F.lit(0).cast("bigint"),
                           lambda acc, x: acc + x)

    score = F.aggregate(
        F.col("_qtoks"), F.lit(0).cast("bigint"),
        lambda acc, qt: acc + F.array_max(
            F.transform(F.col("_toks"), lambda dt: dot(qt, dt))))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("score").desc(), F.col("vec_id").asc()))
    return (base.crossJoin(F.broadcast(probe))
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("score", score)
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= _LI_K)
            .select("query_id", "vec_id", "score", "rank"))
