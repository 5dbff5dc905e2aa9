"""Tier 43 — round-9 widening, part 2: audio transform, vacuum
retention, sketch-quality census.

1. `audio_downsample_exact` — the first audio TRANSFORM (tier 42
   added decode): decode a PCM16 clip, drop every other frame
   (integer 2x decimation, all channels), re-encode at half the
   sample rate, decode AGAIN, and emit integer stats of the result.
   Two full codec round trips per clip; the oracle recomputes the
   kept-frame rule from the synthetic sample formula without seeing
   a WAV byte.

2. `lakehouse_vacuum_retention` — VACUUM behind the oracle gate:
   after create -> full-coverage DELETE rewrite -> compact, vacuum
   with keep_last=2 must physically drop version 1's
   no-longer-referenced data dirs while both retained versions stay
   readable and hash-correct. Until now vacuum had pytest coverage
   only (tests/test_lakehouse.py).

3. `minhash_estimate_census` — sketch-quality measurement as a
   declared op: for every LSH candidate pair, compare the MinHash
   Jaccard ESTIMATE (agreeing signature positions / 16) against the
   EXACT shingle Jaccard, and histogram the absolute error in
   100-milli buckets — the census a pipeline owner reads before
   trusting a sketch threshold at 100 TB. Integer-exact end to end
   (milli-units, integer division).

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup rules over pandas frames);
these keys extend the multimodal, lakehouse, and dedup families
SURVEY.md §2.2 declares for the 100 TB training-data pipeline.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..operators.multimodal import PAYLOAD_SCHEMA
from ..session import hold, pin
from ..sinks.lakehouse import LakeTable
from .registry import query
from .tier21 import (_BANDS, _BANDS_CTE, _CAND_CTE, _MH_LIST_SQL, _ROWS,
                     _SH_CTES, _band_rows, _candidate_pairs, _signatures,
                     _with_shingles)
from .tier42 import _PCM_CTES, _pcm16_payloads

# ---------------------------------------------------------------------------
# audio_downsample_exact — decode -> decimate -> encode -> decode
# ---------------------------------------------------------------------------

_DS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("out_frames", T.LongType()),
    T.StructField("out_rate", T.LongType()),
    T.StructField("channels", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("s_sum", T.LongType()),
    T.StructField("s_min", T.LongType()),
    T.StructField("s_max", T.LongType()),
    T.StructField("s_wsum", T.LongType()),
])

_DS_ORACLE = f"""
    WITH {_PCM_CTES}, kept AS (
      SELECT doc_id, n_frames, channels, rate, smp,
             ((j // channels) // 2) * channels + (j % channels) AS j2
      FROM v WHERE (j // channels) % 2 = 0
    )
    SELECT doc_id,
           CAST((n_frames + 1) // 2 AS BIGINT) AS out_frames,
           CAST(rate // 2 AS BIGINT) AS out_rate,
           CAST(channels AS BIGINT) AS channels,
           CAST(((n_frames + 1) // 2) * 1000 // (rate // 2)
                AS BIGINT) AS duration_ms,
           CAST(SUM(smp) AS BIGINT) AS s_sum,
           CAST(MIN(smp) AS BIGINT) AS s_min,
           CAST(MAX(smp) AS BIGINT) AS s_max,
           CAST(SUM((j2 + 1) * (smp + 32768) % 1000000007)
                % 1000000007 AS BIGINT) AS s_wsum
    FROM kept
    GROUP BY doc_id, n_frames, channels, rate
"""


@query("audio_downsample_exact", oracle=_DS_ORACLE)
def audio_downsample_exact(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Integer 2x decimation through TWO full codec round trips:
    synthesize PCM16 (the tier-42 sample rule) -> encode ->
    decode -> drop every other frame (all channels kept together) ->
    re-encode at rate//2 -> decode again -> integer stats. The
    position-weighted checksum uses the DECIMATED stream's frame
    positions, so an off-by-one in the frame split (e.g. decimating
    samples instead of frames on stereo clips) cannot pass. The
    oracle recomputes the kept-frame rule directly.

    Scale: same posture as the other codec keys — Arrow-batched
    mapInPandas stages, per-clip cost tracks payload bytes; the
    decimation itself is a numpy stride view, no Python loop over
    samples."""
    from collections.abc import Iterator

    from ..operators.wav import decode_wav_pcm16, encode_wav_pcm16

    import numpy as np
    import pandas as pd

    def downsample(it: Iterator["pd.DataFrame"]
                   ) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pcm, rate, ch = decode_wav_pcm16(bytes(payload))
                frames = np.frombuffer(pcm, dtype="<i2").reshape(-1, ch)
                out = frames[::2]                      # 2x decimation
                wav2 = encode_wav_pcm16(
                    np.ascontiguousarray(out).tobytes(), rate // 2, ch)
                pcm2, rate2, ch2 = decode_wav_pcm16(wav2)
                smp = np.frombuffer(pcm2, dtype="<i2").astype(np.int64)
                n_out = smp.size // ch2
                j2 = np.arange(smp.size, dtype=np.int64)
                wsum = int(((j2 + 1) * (smp + 32768)
                            % 1000000007).sum() % 1000000007)
                rows.append((int(doc_id), n_out, rate2, ch2,
                             (n_out * 1000) // rate2, int(smp.sum()),
                             int(smp.min()), int(smp.max()), wsum))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              _DS_SCHEMA])

    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id").mapInPandas(_pcm16_payloads,
                                              schema=PAYLOAD_SCHEMA)
    return payloads.mapInPandas(downsample, schema=_DS_SCHEMA)


# ---------------------------------------------------------------------------
# lakehouse_vacuum_retention — physical GC with retained readability
# ---------------------------------------------------------------------------

_VC_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"

_VC_ORACLE = f"""
    WITH live AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             {_VC_CENTS} AS cents
      FROM orders WHERE o_orderkey % 3 <> 0
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(k) AS BIGINT) AS key_sum,
           CAST(3 AS BIGINT) AS n_versions,
           TRUE AS v1_reclaimed
    FROM live GROUP BY status
"""


@query("lakehouse_vacuum_retention", oracle=_VC_ORACLE)
def lakehouse_vacuum_retention(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """VACUUM as a declared op: create (v1) -> DELETE every third key
    (v2 — a modulo predicate defeats stats pruning, so every file
    holds matches and rewrites, orphaning ALL of v1's data dirs) ->
    compact (v3) -> ``vacuum(keep_last=2)``. The vacuum must
    physically reclaim at least one v1-only data dir
    (``v1_reclaimed``), and the head read AFTER the reclaim must
    still hash-match the oracle's replay — proving GC removed only
    unreferenced files, the Delta VACUUM contract.

    Scale: vacuum cost is manifest-diff + dir unlinks — it never
    reads data; retention (keep_last) bounds time-travel depth
    exactly like production table services. The only driver
    materialization is the <= |statuses| result frame so the temp
    table can be cleaned up before returning."""
    orders = load(spark, sf_dir, "orders")
    base = (orders
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_orderstatus").alias("status"),
                    F.expr(_VC_CENTS).alias("cents")))
    root = tempfile.mkdtemp(prefix="etl_vacuum_")
    try:
        # num_files=8 keeps every v1 file dense enough to contain a
        # k % 3 row at ANY fixture scale, so the DELETE provably
        # rewrites all of them (a 32-way split of a tiny fixture
        # leaves near-empty files the delete would carry by
        # reference, keeping v1's dir live and the reclaim flaky)
        t = LakeTable.create(spark, root, base, batch_id="create",
                             num_files=8)
        t.delete_where(F.expr("k % 3 = 0"), batch_id="delete-1")
        # the reclaim contract below assumes the DELETE rewrote EVERY
        # v1 file (the oracle hardcodes v1_reclaimed = TRUE). Enforce
        # that assumption loudly: a skewed/tiny fixture that leaves a
        # v1 file carried by reference is a FIXTURE error, not an
        # oracle mismatch to puzzle over.
        carried = ({e["path"] for e in t._manifest(1)["files"]}
                   & {e["path"] for e in t._manifest(2)["files"]})
        if carried:
            raise ValueError(
                "lakehouse_vacuum_retention fixture error: delete "
                f"left {len(carried)} v1 file(s) carried by "
                "reference; every v1 file must contain a k % 3 == 0 "
                "row for the reclaim contract to hold")
        t.compact(batch_id="compact-1", target_file_bytes=1 << 20)
        removed = t.vacuum(keep_last=2)
        out = (t.snapshot()
               .groupBy("status")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.sum("cents").cast("bigint").alias("sum_cents"),
                    F.sum("k").cast("bigint").alias("key_sum"))
               .withColumn("n_versions",
                           F.lit(t.version()).cast("bigint"))
               .withColumn("v1_reclaimed",
                           F.lit(len(removed) >= 1)))
        # held: the on-disk table is removed on return
        return hold(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# minhash_estimate_census — sketch error vs exact Jaccard
# ---------------------------------------------------------------------------

_K = _BANDS * _ROWS            # signature length (16)

_MEC_ORACLE = f"""
    WITH {_SH_CTES}, mh AS (
      SELECT doc_id, sh, [{_MH_LIST_SQL}] AS mh FROM sh
    ), {_BANDS_CTE}, {_CAND_CTE}, pairs AS (
      SELECT c.id_1, c.id_2,
             list_sum(list_transform(range(1, {_K + 1}),
               i -> CASE WHEN ma.mh[i] = mb.mh[i]
                         THEN 1 ELSE 0 END)) AS agree,
             len(list_intersect(ma.sh, mb.sh)) AS inter,
             len(ma.sh) + len(mb.sh)
               - len(list_intersect(ma.sh, mb.sh)) AS un
      FROM cand c JOIN mh ma ON ma.doc_id = c.id_1
                  JOIN mh mb ON mb.doc_id = c.id_2
    ), errs AS (
      SELECT abs((1000 * agree) // {_K}
                 - CASE WHEN un = 0 THEN 1000
                        ELSE (1000 * inter) // un END) AS err_milli
      FROM pairs
    )
    SELECT CAST(err_milli // 100 AS BIGINT) AS err_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(err_milli) AS BIGINT) AS sum_err_milli
    FROM errs GROUP BY err_bucket
"""


@query("minhash_estimate_census", oracle=_MEC_ORACLE)
def minhash_estimate_census(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Sketch-quality census: for every LSH candidate pair, the
    MinHash Jaccard estimate (agreeing positions / 16, in milli) is
    compared against the exact shingle Jaccard, and |error| is
    histogrammed in 100-milli buckets — the measurement that tells a
    pipeline owner whether a 16-perm signature is trustworthy before
    thresholding it at 100 TB. All arithmetic in integer milli-units
    (integer division both engines), so the gate is exact.

    Scale: candidates come from the banded LSH self-join (collision-
    bounded, never all-pairs); the estimate/exact comparison is one
    equi-join back to signatures + shingle sets, all map-side
    arithmetic; output is <= 11 buckets."""
    docs = load(spark, sf_dir, "documents")
    sh = pin(_with_shingles(docs))
    mh = _signatures(sh)
    cand = _candidate_pairs(_band_rows(mh))
    ma = mh.select(F.col("doc_id").alias("id_1"),
                   F.col("_sh").alias("_sa"),
                   F.col("_mh").alias("_ma"))
    mb = mh.select(F.col("doc_id").alias("id_2"),
                   F.col("_sh").alias("_sb"),
                   F.col("_mh").alias("_mb"))
    agree = F.aggregate(
        F.zip_with("_ma", "_mb",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, x: acc + x)
    inter = F.size(F.array_intersect("_sa", "_sb"))
    un = F.size("_sa") + F.size("_sb") - inter
    est = F.expr(f"(1000 * _agree) div {_K}")
    exact = F.when(F.col("_un") == 0, 1000).otherwise(
        F.expr("(1000 * _inter) div _un"))
    return (cand.join(ma, "id_1").join(mb, "id_2")
            .select(agree.alias("_agree"), inter.alias("_inter"),
                    un.alias("_un"))
            .select(F.abs(est - exact).alias("_err"))
            .select(F.expr("_err div 100").cast("bigint")
                     .alias("err_bucket"), "_err")
            .groupBy("err_bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.sum("_err").cast("bigint")
                  .alias("sum_err_milli")))
