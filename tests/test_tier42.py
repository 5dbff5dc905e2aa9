"""Hand-fixture semantics for the tier-42 keys (round 9).

Cross-engine equality is tools/check_oracle.py; these tests pin the
SEMANTICS on corpora small enough to verify by hand:
`exact_substring_dedup` must count duplicated L-gram positions both
across docs and within one doc; `lakehouse_time_travel` must read
version 2 unchanged after later delete/merge commits;
`late_interaction_maxsim` must score by per-query-token MAX (not
whole-vector dot); `wav_decode_exact` must reproduce the sample rule
through real WAV bytes.
"""

from __future__ import annotations

import numpy as np

from etl_tool_rep_spark.queries import QUERIES
import etl_tool_rep_spark.queries.tier42 as t42


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")


# --- exact_substring_dedup -------------------------------------------

_S30 = "0123456789ABCDEFGHIJKLMNOPQRST"       # 30 distinct chars


def test_substring_dedup_cross_and_within_doc(spark, monkeypatch):
    rows = [
        (1, "aaaa " + _S30),                  # shares s30 with doc 2
        (2, "bbbb " + _S30 + " tail"),
        (3, "z" * 30),                        # within-doc repeats only
        (4, "short"),                         # < L chars: zero grams
    ]
    monkeypatch.setattr(t42, "load", lambda s, d, n: _docs(spark, rows))
    got = {r["doc_id"]: r for r in
           QUERIES["exact_substring_dedup"](spark, "x").collect()}
    assert set(got) == {1, 2, 3, 4}
    # doc 1: len 35 -> 11 grams; the shared span is ' ' + s30
    # (31 chars, both docs), so 7 grams (positions 5..11) duplicate
    assert (got[1]["n_grams"], got[1]["n_dup_pos"],
            got[1]["first_dup_pos"], got[1]["dup_bp"]) == (11, 7, 5,
                                                           6363)
    # doc 2: len 40 -> 16 grams, same 7 duplicated
    assert (got[2]["n_grams"], got[2]["n_dup_pos"],
            got[2]["first_dup_pos"], got[2]["dup_bp"]) == (16, 7, 5,
                                                           4375)
    # doc 3: all 6 grams are the SAME gram -> within-doc duplication
    assert (got[3]["n_grams"], got[3]["n_dup_pos"],
            got[3]["first_dup_pos"], got[3]["dup_bp"]) == (6, 6, 1,
                                                           10000)
    # doc 4: shorter than L -> all zeros, sentinel first position
    assert (got[4]["n_grams"], got[4]["n_dup_pos"],
            got[4]["first_dup_pos"], got[4]["dup_bp"]) == (0, 0, -1, 0)


# --- lakehouse_time_travel -------------------------------------------

def _orders(spark, keys):
    return spark.createDataFrame(
        [(k, "O" if k % 2 else "F", float(k)) for k in keys],
        "o_orderkey long, o_orderstatus string, o_totalprice double")


def _expected_states(keys):
    """Independent replay of the create/append/delete/merge rules."""
    cents = {k: int(k * 100 + 0.5) for k in keys}
    status = {k: "O" if k % 2 else "F" for k in keys}
    v2 = {k: (status[k], cents[k]) for k in keys if k % 3 != 0}
    v2.update({k: (status[k], cents[k] + 55) for k in keys
               if k % 3 == 0 and k % 2 == 0})
    v4 = {k: v for k, v in v2.items() if k % 10 != 7}
    for k in keys:
        if k % 5 == 1:
            v4[k] = ("M", cents[k] + 777)
    return v2, v4


def test_time_travel_reads_pre_delete_state(spark, monkeypatch):
    keys = list(range(1, 31))
    monkeypatch.setattr(t42, "load",
                        lambda s, d, n: _orders(spark, keys))
    out = QUERIES["lakehouse_time_travel"](spark, "x").collect()
    v2, v4 = _expected_states(keys)

    def tally(state):
        agg = {}
        for k, (st, c) in state.items():
            n, sc, ks = agg.get(st, (0, 0, 0))
            agg[st] = (n + 1, sc + c, ks + k)
        return agg

    want = {("v2", st): v for st, v in tally(v2).items()}
    want.update({("head", st): v for st, v in tally(v4).items()})
    got = {(r["as_of"], r["status"]):
           (r["n_rows"], r["sum_cents"], r["key_sum"]) for r in out}
    assert got == want
    assert all(r["n_versions"] == 4 for r in out)
    # the deleted keys must be absent from head but present in v2
    assert any(k % 10 == 7 for k in v2), "fixture never hit the delete"


# --- late_interaction_maxsim -----------------------------------------

def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int")


def test_maxsim_scores_by_token_max_not_whole_vector(spark,
                                                     monkeypatch):
    dim, tok = 64, 8
    q = [0.0] * dim
    q[0] = 1.0                     # query token 0 = unit on dim 0
    a = [0.0] * dim
    a[3 * tok] = 2.0               # cand 10: the match lives in TOKEN 3
    b = [0.0] * dim
    b[0] = 1.5                     # cand 11: match in token 0
    rows = [(0, q), (10, a), (11, b)]
    monkeypatch.setattr(t42, "load", lambda s, d, n: _emb(spark, rows))
    out = {(r["query_id"], r["vec_id"]): (r["score"], r["rank"])
           for r in QUERIES["late_interaction_maxsim"](spark,
                                                       "x").collect()}
    # a whole-vector dot would give cand 10 a score of 0 (disjoint
    # dims); MaxSim must find the token-3 match: 1000 * 2000
    assert out[(0, 10)] == (2_000_000, 1)
    assert out[(0, 11)] == (1_500_000, 2)
    assert len(out) == 2           # the query never matches itself


# --- wav_decode_exact ------------------------------------------------

def test_wav_stats_reproduce_sample_rule_through_real_bytes(
        spark, monkeypatch):
    rows = [(d, "t") for d in (0, 1, 5, 37)]
    monkeypatch.setattr(t42, "load", lambda s, d, n: _docs(spark, rows))
    got = {r["doc_id"]: r for r in
           QUERIES["wav_decode_exact"](spark, "x").collect()}
    for d, _ in rows:
        n_frames = 120 + (d % 31) * 7
        channels = 1 + d % 2
        rate = 8000 + 125 * (d % 5)
        j = np.arange(n_frames * channels, dtype=np.int64)
        smp = ((d * 1103515245 + j * 12345 + 1013904223) % 65536) - 32768
        r = got[d]
        assert (r["n_frames"], r["sample_rate"], r["channels"]) == \
            (n_frames, rate, channels)
        assert r["duration_ms"] == (n_frames * 1000) // rate
        assert (r["s_sum"], r["s_min"], r["s_max"]) == \
            (int(smp.sum()), int(smp.min()), int(smp.max()))
        assert r["s_wsum"] == int(((j + 1) * (smp + 32768)
                                   % 1000000007).sum() % 1000000007)
