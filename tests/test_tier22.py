"""Unit semantics for the tier-22 exact iterative-ML queries on
hand-built frames: each is checked against an INDEPENDENT pure-Python
re-implementation of the same quantized algorithm (the cross-engine
DuckDB equality is tools/check_oracle.py; these pin the semantics on
inputs small enough to verify by hand/model).
"""

import math
import os
import shutil

import pytest

from etl_tool_rep_spark.queries import QUERIES
import etl_tool_rep_spark.queries.tier22 as t22


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int")


def _pad(*head):
    return list(head) + [0.0] * (t22._DIM - len(head))


def _quant(vecs):
    # float32 -> double is exact; mimic by rounding through float32
    import numpy as np
    out = []
    for v in vecs:
        f32 = np.array(v, dtype=np.float32).astype(float)
        out.append([math.floor(x * t22._Q + 0.5) for x in f32])
    return out


def _kmeans_model(qvs):
    """Independent Lloyd model: argmin (ties lowest cid), quantized
    mean update, empty-cluster carry-forward."""
    cents = {cid: list(qvs[cid]) for cid in range(t22._KM_K)}
    assign = {}
    for _ in range(t22._KM_ITERS):
        assign = {}
        for vid, qv in enumerate(qvs):
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(qv, cents[c])),
                 c) for c in sorted(cents))
            assign[vid] = best[1]
        new = {c: list(v) for c, v in cents.items()}
        for c in sorted(cents):
            members = [qvs[v] for v, a in assign.items() if a == c]
            if members:
                n = len(members)
                new[c] = [int(math.floor(sum(m[d] for m in members)
                                         / n + 0.5))
                          for d in range(t22._DIM)]
        cents = new
    sizes = {c: sum(1 for a in assign.values() if a == c)
             for c in cents}
    return cents, sizes


def test_kmeans_matches_python_model(spark, monkeypatch):
    # two tight blobs plus scattered singles; init = vecs 0..7
    vecs = ([_pad(0.5 + 0.001 * i, 0.0) for i in range(4)]
            + [_pad(0.0, 0.5 + 0.001 * i) for i in range(4)]
            + [_pad(0.5, 0.002 * i) for i in range(6)]
            + [_pad(-0.3, 0.3, 0.1 * i) for i in range(4)])
    _check_kmeans(spark, monkeypatch, vecs)


def test_kmeans_empty_final_cluster_reports_zero(spark, monkeypatch):
    # vecs 0 and 1 are equal and far from the rest: the distance tie
    # goes to cid 0 in every round, so cluster 1 ends empty (n = 0)
    far = _pad(-0.5, -0.5)
    vecs = ([far, far]
            + [_pad(0.1 * i, 0.3) for i in range(6)]
            + [_pad(0.3, 0.05 * i) for i in range(6)])
    sizes = _check_kmeans(spark, monkeypatch, vecs)
    assert sizes[1] == 0


def _check_kmeans(spark, monkeypatch, vecs):
    rows = list(enumerate(vecs))
    monkeypatch.setattr(t22, "load", lambda s, d, n: _emb(spark, rows))
    got = QUERIES["kmeans_exact"](spark, "x").collect()
    cents, sizes = _kmeans_model(_quant(vecs))
    assert len(got) == t22._KM_K * t22._DIM
    for r in got:
        assert r["c_val"] == cents[r["cid"]][r["dim"]], \
            (r["cid"], r["dim"])
        assert r["n"] == sizes[r["cid"]]
    assert sum(sizes.values()) == len(vecs)
    return sizes


def test_kmeans_exact_pass_is_eight_jobs(spark, sf_dir, tmp_path,
                                        group_jobs):
    """Scan, pin, init collect, 2 per Lloyd round, and the consumer's
    write: sizes come from the last round's sums and the result is a
    local relation, so nothing re-runs the final assignment. The scan
    is the parquet schema inference of a file version not read before;
    a second pass over the unchanged file skips it."""
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), tmp_path)

    def run():
        (QUERIES["kmeans_exact"](spark, str(tmp_path))
         .write.format("noop").mode("overwrite").save())
    assert group_jobs("kmeans-cold", run)[1] == 8
    assert group_jobs("kmeans-warm", run)[1] == 7


def _mmr_model(qvs):
    """Independent greedy MMR model on integer inner products."""
    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))
    rel = {j: dot(qvs[0], qvs[j])
           for j in range(1, len(qvs))}
    sel, picks = [], []
    for r in range(1, t22._MMR_SEL + 1):
        best = None
        for j in sorted(rel):
            if j in sel:
                continue
            if r == 1:
                score = t22._MMR_LAM7 * rel[j]
            else:
                score = (t22._MMR_LAM7 * rel[j]
                         - t22._MMR_LAM3
                         * max(dot(qvs[j], qvs[s]) for s in sel))
            if best is None or score > best[0]:
                best = (score, j)
        sel.append(best[1])
        picks.append((r, best[1], best[0]))
    return picks


def test_mmr_matches_python_model(spark, monkeypatch):
    # clone-heavy pool: the model decides whether diversity demotes
    # the clone; Spark must make the identical integer decisions
    q = _pad(0.5, 0.2)
    c1 = _pad(0.5, 0.0)
    c2 = _pad(0.499, 0.02)
    c3 = _pad(0.0, 0.5)
    others = [_pad(0.01 * (i + 1), -0.3, 0.05 * i) for i in range(21)]
    vecs = [q, c1, c2, c3] + others
    rows = list(enumerate(vecs))
    monkeypatch.setattr(t22, "load", lambda s, d, n: _emb(spark, rows))
    got = sorted(QUERIES["mmr_exact"](spark, "x").collect(),
                 key=lambda r: r["rank"])
    model = _mmr_model(_quant(vecs))
    assert [(r["rank"], r["vec_id"], r["score"]) for r in got] == model
    assert len({r["vec_id"] for r in got}) == t22._MMR_SEL


def _pq_model(qvs):
    """Independent PQ encode + ADC model."""
    M, D, K = t22._PQ_M, t22._PQ_D, t22._PQ_K
    cbs = [[qvs[c][D * s:D * (s + 1)] for c in range(K)]
           for s in range(M)]

    def sub(v, s, c):
        return sum((v[D * s + d] - cbs[s][c][d]) ** 2
                   for d in range(D))

    out = []
    for vid, v in enumerate(qvs):
        if vid == 0:
            continue
        adc = 0
        for s in range(M):
            best = min((sub(v, s, c), c) for c in range(K))
            adc += sub(qvs[0], s, best[1])
        out.append((adc, vid))
    out.sort()
    return [(vid, adc) for adc, vid in out[:t22._PQ_TOPN]]


def test_ann_pq_matches_python_model(spark, monkeypatch):
    import random
    rng = random.Random(77)
    vecs = [[round(rng.uniform(-0.5, 0.5), 3) for _ in range(t22._DIM)]
            for _ in range(40)]
    rows = list(enumerate(vecs))
    monkeypatch.setattr(t22, "load", lambda s, d, n: _emb(spark, rows))
    got = [(r["vec_id"], r["adc_dist"]) for r in
           QUERIES["ann_pq_exact"](spark, "x").collect()]
    assert got == _pq_model(_quant(vecs))
    assert len(got) == t22._PQ_TOPN


def _ivf_model(qvs):
    """Independent IVF assign/probe/refine model."""
    K, NP, TN = t22._IVF_K, t22._IVF_NPROBE, t22._IVF_TOPN

    def d(u, v):
        return sum((a - b) * (a - b) for a, b in zip(u, v))

    asg = {vid: min((d(v, qvs[c]), c) for c in range(K))[1]
           for vid, v in enumerate(qvs)}
    probes = [c for _, c in sorted((d(qvs[0], qvs[c]), c)
                                   for c in range(K))[:NP]]
    hits = sorted((d(qvs[0], v), vid, asg[vid])
                  for vid, v in enumerate(qvs)
                  if vid != 0 and asg[vid] in probes)[:TN]
    return [(vid, dist, cid) for dist, vid, cid in hits]


def test_ivf_probe_matches_python_model(spark, monkeypatch):
    import random
    rng = random.Random(99)
    vecs = [[round(rng.uniform(-0.5, 0.5), 3) for _ in range(t22._DIM)]
            for _ in range(50)]
    rows = list(enumerate(vecs))
    monkeypatch.setattr(t22, "load", lambda s, d, n: _emb(spark, rows))
    got = [(r["vec_id"], r["dist"], r["cid"]) for r in
           QUERIES["ivf_probe_exact"](spark, "x").collect()]
    assert got == _ivf_model(_quant(vecs))
