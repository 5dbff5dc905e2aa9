"""Hand-fixture semantics for the tier-43 keys (round 9).

Cross-engine equality is tools/check_oracle.py; these tests pin the
semantics on corpora small enough to verify independently:
`audio_downsample_exact` must decimate FRAMES (not samples) through
two real codec round trips; `lakehouse_vacuum_retention` must
physically reclaim version 1 while the retained head stays correct;
`minhash_estimate_census` must report zero error for identical docs
(signatures agree at all 16 positions AND exact Jaccard is 1).
"""

from __future__ import annotations

import numpy as np

from etl_tool_rep_spark.queries import QUERIES
import etl_tool_rep_spark.queries.tier42 as t42  # noqa: F401 (docs helper)
import etl_tool_rep_spark.queries.tier43 as t43


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")


def test_audio_downsample_decimates_frames(spark, monkeypatch):
    ids = (0, 1, 5, 36)       # mono and stereo, varied rates/lengths
    monkeypatch.setattr(t43, "load",
                        lambda s, d, n: _docs(spark,
                                              [(d, "t") for d in ids]))
    got = {r["doc_id"]: r for r in
           QUERIES["audio_downsample_exact"](spark, "x").collect()}
    for d in ids:
        n_frames = 120 + (d % 31) * 7
        ch = 1 + d % 2
        rate = 8000 + 125 * (d % 5)
        j = np.arange(n_frames * ch, dtype=np.int64)
        smp = ((d * 1103515245 + j * 12345 + 1013904223) % 65536) - 32768
        kept = smp.reshape(-1, ch)[::2].reshape(-1)
        j2 = np.arange(kept.size, dtype=np.int64)
        r = got[d]
        assert (r["out_frames"], r["out_rate"], r["channels"]) == \
            ((n_frames + 1) // 2, rate // 2, ch)
        assert (r["s_sum"], r["s_min"], r["s_max"]) == \
            (int(kept.sum()), int(kept.min()), int(kept.max()))
        assert r["s_wsum"] == int(((j2 + 1) * (kept + 32768)
                                   % 1000000007).sum() % 1000000007)


def _orders(spark, keys):
    return spark.createDataFrame(
        [(k, "O" if k % 2 else "F", float(k)) for k in keys],
        "o_orderkey long, o_orderstatus string, o_totalprice double")


def test_vacuum_reclaims_v1_and_head_survives(spark, monkeypatch):
    keys = list(range(1, 61))
    monkeypatch.setattr(t43, "load",
                        lambda s, d, n: _orders(spark, keys))
    out = QUERIES["lakehouse_vacuum_retention"](spark, "x").collect()
    live = [k for k in keys if k % 3 != 0]
    want = {}
    for k in live:
        st = "O" if k % 2 else "F"
        n, sc, ks = want.get(st, (0, 0, 0))
        want[st] = (n + 1, sc + k * 100, ks + k)
    got = {r["status"]: (r["n_rows"], r["sum_cents"], r["key_sum"])
           for r in out}
    assert got == want
    assert all(r["n_versions"] == 3 and r["v1_reclaimed"]
               for r in out)


def test_minhash_census_identical_docs_have_zero_error(spark,
                                                       monkeypatch):
    text = ("the quick brown fox jumps over the lazy dog near "
            "the quiet river bank today")
    rows = [(1, text), (2, text),
            (3, "completely different words describe another story "
                "about mountains and weather patterns entirely")]
    monkeypatch.setattr(t43, "load", lambda s, d, n: _docs(spark, rows))
    out = {r["err_bucket"]: (r["n_pairs"], r["sum_err_milli"])
           for r in QUERIES["minhash_estimate_census"](spark,
                                                       "x").collect()}
    # the identical pair collides in every band, agrees at all 16
    # signature positions (est 1000) and has exact Jaccard 1000:
    # error 0, bucket 0. The unrelated doc shares no shingle, so any
    # accidental band collision would land in a HIGH bucket instead.
    assert out.get(0) == (1, 0)
