#!/usr/bin/env python
"""ANN recall curves: recall@10 vs brute force across the tuning
grids a user actually turns — IVF nprobe, PQ (m, ksub), hyperplane-LSH
(bands, bits) — measured at sf1 (20k vectors, dim 64) and written to
RECALL.md as standing evidence (round-4 verdict item #6).

    python tools/recall_curves.py [--sf /root/repo/.scratch/sf1]
        [--out RECALL.md]

The pytest floors (tests/test_recall_curves.py) assert the same
numbers hold at the small test fixture, so a kernel regression fails
CI; this tool produces the sizing table a user consults to pick
parameters for a recall target.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_tool_rep_spark.session import get_spark, pin  # noqa: E402

K = 10
N_QUERIES = 32


def _truth_sets(brute_rows):
    truth: dict = {}
    for qid, cid, _, _ in brute_rows:
        truth.setdefault(qid, set()).add(cid)
    return truth


def _recall(truth: dict, rows) -> float:
    got: dict = {}
    for qid, cid, *_ in rows:
        got.setdefault(qid, set()).add(cid)
    rs = [len(truth[q] & got.get(q, set())) / K for q in truth]
    return round(sum(rs) / len(rs), 3)


def ivf_curve(spark, em, truth, queries, nlist_mod: int) -> list[dict]:
    from pyspark.sql import functions as F

    from etl_tool_rep_spark.operators.knn import ivf_assign, ivf_topk
    cents = (em.filter(F.col("vec_id") % nlist_mod == 0)
               .select(F.col("vec_id").alias("centroid_id"),
                       F.col("embedding").alias("centroid_vec")))
    nlist = cents.count()
    assigned = ivf_assign(em, cents, "vec_id", "embedding")
    assigned = pin(assigned)
    out = []
    for nprobe in (1, 2, 4, 8, 16):
        t0 = time.perf_counter()
        rows = [tuple(r) for r in ivf_topk(
            queries, assigned, cents, "vec_id", "embedding",
            "vec_id", "embedding", k=K, nprobe=nprobe).collect()]
        out.append({"nprobe": nprobe, "nlist": nlist,
                    "scan_frac": round(nprobe / nlist, 3),
                    "recall@10": _recall(truth, rows),
                    "s": round(time.perf_counter() - t0, 2)})
        print("ivf", out[-1], flush=True)
    return out


def pq_curve(spark, em, queries, qids) -> list[dict]:
    """PQ is an L2 index — its ground truth is exact L2 top-k (the
    cosine truth would conflate metric mismatch with quantization
    loss)."""
    import numpy as np

    from etl_tool_rep_spark.operators.pq import (pq_encode, pq_topk,
                                                 pq_topk_refined,
                                                 pq_train)
    X = em.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in X])
    V = np.array([r[1] for r in X], dtype=np.float64)
    qmask = np.isin(ids, qids)
    truth = {}
    for qi, qv in zip(ids[qmask], V[qmask]):
        d2 = ((V - qv) ** 2).sum(axis=1)
        order = np.argsort(d2, kind="stable")
        top = [int(ids[j]) for j in order if ids[j] != qi][:K]
        truth[int(qi)] = set(top)

    out = []
    for m, ksub in ((4, 16), (8, 16), (16, 16), (8, 64)):
        books = pq_train(em, "vec_id", "embedding", m=m, ksub=ksub)
        codes = pq_encode(em.select("vec_id", "embedding"),
                          "embedding", books).select("vec_id", "pq_code")
        t0 = time.perf_counter()
        adc = [tuple(r) for r in pq_topk(
            queries, "vec_id", "embedding", codes, "vec_id",
            k=K, codebooks=books).collect()]
        rec_adc = _recall(truth, adc)
        ref = [tuple(r) for r in pq_topk_refined(
            queries, "vec_id", "embedding", codes, em,
            "vec_id", "embedding", k=K, shortlist=100,
            codebooks=books).collect()]
        rec_ref = _recall(truth, ref)
        out.append({"m": m, "ksub": ksub,
                    "compression_x": round(64 * 4 / m, 1),
                    "recall@10_adc": rec_adc,
                    "recall@10_refined100": rec_ref,
                    "s": round(time.perf_counter() - t0, 2)})
        print("pq", out[-1], flush=True)
    return out


def lsh_curve(spark, em, dim: int) -> list[dict]:
    """Pair recall: fraction of true cos>=tau pairs surfaced, on a
    2k-vector slice (exact all-pairs truth stays numpy-sized)."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_tool_rep_spark.operators.knn import lsh_near_dup_pairs
    sub = em.filter(F.col("vec_id") < 2000).select("vec_id", "embedding")
    X = sub.collect()
    ids = np.array([r[0] for r in X])
    V = np.array([r[1] for r in X], dtype=np.float64)
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = U @ U.T
    tau = 0.4
    iu = np.triu_indices(len(ids), k=1)
    hit = S[iu] >= tau
    true_pairs = {(int(min(a, b)), int(max(a, b)))
                  for a, b in zip(ids[iu[0]][hit], ids[iu[1]][hit])}
    out = []
    for bands, n_bits in ((2, 16), (4, 16), (4, 8), (8, 16), (8, 8)):
        t0 = time.perf_counter()
        got = {(int(min(r[0], r[1])), int(max(r[0], r[1])))
               for r in lsh_near_dup_pairs(
                   sub, "vec_id", "embedding", dim=dim,
                   threshold=tau, n_bits=n_bits, bands=bands).collect()}
        assert got <= true_pairs, "LSH emitted a false positive"
        out.append({"bands": bands, "bits": n_bits,
                    "bits_per_band": n_bits // bands,
                    "n_true_pairs": len(true_pairs),
                    "pair_recall": round(len(got) / max(len(true_pairs),
                                                        1), 3),
                    "s": round(time.perf_counter() - t0, 2)})
        print("lsh", out[-1], flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/repo/.scratch/sf1")
    ap.add_argument("--out", default="RECALL.md")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from etl_tool_rep_spark.catalog import load
    from etl_tool_rep_spark.operators.knn import brute_force_topk

    spark = get_spark("recall_curves")
    em = load(spark, args.sf, "embeddings")
    n = em.count()
    queries = em.filter(F.col("vec_id") < N_QUERIES)
    qids = list(range(N_QUERIES))

    brute = [tuple(r) for r in brute_force_topk(
        queries, em, "vec_id", "vec_id", "embedding", "embedding",
        k=K).collect()]
    truth = _truth_sets(brute)

    nlist_mod = max(2, round(n ** 0.5))  # nlist ~ sqrt(N)
    ivf = ivf_curve(spark, em, truth, queries, nlist_mod)
    pq = pq_curve(spark, em, queries, qids)
    lsh = lsh_curve(spark, em, dim=64)

    lines = [
        "# RECALL — ANN parameter/recall curves (standing evidence)",
        "",
        f"Fixture: `{args.sf}` ({n} vectors, dim 64); {N_QUERIES} "
        f"queries; recall@{K} vs exact search (cosine for IVF/LSH, "
        "L2 for PQ — PQ is an L2 index). Produced by "
        "`tools/recall_curves.py`; floors asserted per-commit in "
        "`tests/test_recall_curves.py`.",
        "",
        "## IVF (`operators/knn.ivf_topk`) — nprobe sweep",
        "",
        "Cost model: scanned fraction ~= nprobe/nlist; pick the row "
        "meeting your recall target.",
        "",
        "| nprobe | nlist | scan frac | recall@10 | s (32q, local) |",
        "|---|---|---|---|---|",
    ]
    for r in ivf:
        lines.append(f"| {r['nprobe']} | {r['nlist']} | "
                     f"{r['scan_frac']} | {r['recall@10']} | {r['s']} |")
    lines += [
        "",
        "## PQ (`operators/pq`) — (m, ksub) grid",
        "",
        "ADC = pure code-space scan; refined = ADC shortlist-100 + "
        "exact rerank (the registered `ann_pq_knn` path). Compression "
        "is vs float32.",
        "",
        "| m | ksub | compression | recall@10 ADC | recall@10 "
        "refined | s |",
        "|---|---|---|---|---|---|",
    ]
    for r in pq:
        lines.append(f"| {r['m']} | {r['ksub']} | "
                     f"{r['compression_x']}x | {r['recall@10_adc']} | "
                     f"{r['recall@10_refined100']} | {r['s']} |")
    lines += [
        "",
        "## Hyperplane LSH (`operators/knn.lsh_near_dup_pairs`) — "
        "pair recall at cos >= 0.4",
        "",
        "No false positives by construction (exact verify inside each "
        "bucket); the knob trades bucket size (cost) against pair "
        "recall. More bands OR fewer bits/band => higher recall, "
        "bigger buckets.",
        "",
        "| bands | total bits | bits/band | pair recall | s |",
        "|---|---|---|---|---|",
    ]
    for r in lsh:
        lines.append(f"| {r['bands']} | {r['bits']} | "
                     f"{r['bits_per_band']} | {r['pair_recall']} | "
                     f"{r['s']} |")
    lines += [
        "",
        "## Sizing guidance",
        "",
        "* IVF: recall rises ~monotonically with nprobe at linear "
        "cost; nlist ~ sqrt(N) keeps cells ~sqrt(N) wide. Start "
        "nprobe=4 and tune against this table's shape.",
        "* PQ: ADC alone is a shortlist generator, not an answer — "
        "always pair with exact refinement (refined column is "
        "near-1.0 across the grid while ADC varies).",
        "* LSH: bits/band is the precision knob — 2 bits/band "
        "approaches exhaustive pairing (hot buckets), 8 bits/band "
        "keeps buckets tiny but drops borderline pairs. 4 bands x "
        "4 bits is the balanced default for tau ~ 0.4.",
        "",
    ]
    with open(args.out, "w") as fh:
        fh.write("\n".join(lines))
    print("wrote", args.out)


if __name__ == "__main__":
    main()
