"""Structural tests for the LLM-pipeline operators whose oracles are
rows-only (engine-specific hashes): planted-duplicate recovery, ANN
recall floor, multimodal determinism."""

import pytest
from pyspark.sql import functions as F

from etl_tool_rep_spark.catalog import load
from etl_tool_rep_spark.operators import (brute_force_topk, exact_dedup,
                                          ivf_assign, ivf_topk,
                                          minhash_candidate_pairs,
                                          ngram_jaccard_pairs,
                                          simhash_candidate_pairs)
from etl_tool_rep_spark.operators.multimodal import extract_features

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest to hide from the angry farmer")
NEAR = BASE.replace("angry farmer", "sleepy hunter")  # ~90% overlap
OTHER = ("completely different content about databases query engines "
         "columnar execution vectorized operators and distributed joins "
         "with shuffle exchange partitioning strategies for big data")
# long docs: SimHash bit counters need weight for a 1-word edit to
# stay within hamming<=3 (short docs flip too many sign boundaries)
LONG = ((BASE + " ") * 4).strip()
LONG_NEAR = LONG.replace("farmer", "hunter", 1)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "s1"),
        (2, NEAR, "s1"),              # near-dup of 1
        (3, OTHER, "s1"),
        (4, "  The QUICK brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest to hide from the "
            "angry farmer ", "s2"),   # exact dup of 1 after normalize
        (5, BASE, "s2"),              # exact dup of 1
        (6, LONG, "s3"),
        (7, LONG_NEAR, "s3"),         # 1-word edit of 6
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, "
                                       "source string")


def test_exact_dedup_planted(docs):
    out = {r["doc_id"]: r["dup_count"]
           for r in exact_dedup(docs).collect()}
    # 1, 4(case/space variant), 5 collapse; keeper is min id 1
    assert out[1] == 3
    assert 4 not in out and 5 not in out
    assert out[2] == 1 and out[3] == 1
    assert out[6] == 1 and out[7] == 1


def test_minhash_finds_planted_near_dup(docs):
    pairs = {(r["id_1"], r["id_2"]): r
             for r in minhash_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs                       # near-dup found
    assert pairs[(1, 2)]["jaccard"] > 0.5        # exact verification
    assert pairs[(1, 2)]["est_jaccard"] > 0.3    # signature estimate
    exact_pair = pairs.get((1, 5)) or pairs.get((4, 5))
    assert exact_pair and exact_pair["jaccard"] == 1.0
    assert (1, 3) not in pairs and (2, 3) not in pairs  # unrelated


def test_simhash_hamming(docs):
    pairs = {(r["id_1"], r["id_2"]): r["hamming"]
             for r in simhash_candidate_pairs(docs).collect()}
    assert pairs[(1, 5)] == 0          # identical text -> distance 0
    assert pairs[(6, 7)] <= 3          # 1-word edit of a long doc
    assert (1, 3) not in pairs


def test_ngram_jaccard_blocking(docs):
    pairs = {(r["id_1"], r["id_2"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, min_jaccard=0.05).collect()}
    assert pairs[(1, 2)] > 0.5          # same block s1
    assert pairs[(1, 5)] if (1, 5) in pairs else True
    # 1 and 4 are near-identical but different blocks -> never compared
    assert (1, 4) not in pairs


def test_brute_force_topk_handchecked(spark):
    q = spark.createDataFrame([(0, [1.0, 0.0])],
                              "vid long, vec array<double>")
    c = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
         (3, [0.7, 0.7])],
        "vid long, vec array<double>")
    out = brute_force_topk(q, c, "vid", "vid", "vec", "vec", k=3) \
        .toDF("qid", "cid", "score", "rank")
    got = [(r["cid"], r["rank"]) for r in out.orderBy("rank").collect()]
    # excl. self: best is 1 (cos~0.994), then 3 (cos~0.707), then 2 (0)
    assert got == [(1, 1), (3, 2), (2, 3)]


def test_ivf_recall_floor_and_determinism(spark, sf_dir):
    em = load(spark, sf_dir, "embeddings")
    cents = (em.filter(F.col("vec_id") % 53 == 0)
               .select(F.col("vec_id").alias("centroid_id"),
                       F.col("embedding").alias("centroid_vec")))
    assigned = ivf_assign(em, cents, "vec_id", "embedding")
    queries = em.filter(F.col("vec_id") < 5)

    def run():
        return ivf_topk(queries, assigned, cents, "vec_id", "embedding",
                        "vec_id", "embedding", k=10, nprobe=3) \
            .toDF("qid", "cid", "score", "rank")

    a = sorted(tuple(r) for r in run().collect())
    b = sorted(tuple(r) for r in run().collect())
    assert a == b and len(a) == 50           # deterministic, 5 x top-10

    brute = brute_force_topk(queries, em, "vec_id", "vec_id",
                             "embedding", "embedding", k=10) \
        .toDF("qid", "cid", "score", "rank")
    truth: dict[int, set] = {}
    for r in brute.collect():
        truth.setdefault(r["qid"], set()).add(r["cid"])
    got: dict[int, set] = {}
    for qid, cid, _, _ in a:
        got.setdefault(qid, set()).add(cid)
    recalls = [len(truth[q] & got[q]) / 10 for q in truth]
    # nprobe 3 of ~10 cells: expect well above random scan fraction
    assert sum(recalls) / len(recalls) >= 0.2


def test_null_text_rows_do_not_crash_sketches(spark):
    """Regression: NULL text reached np.asarray in the signature
    kernel and crashed the task; NULL rows are now filtered (they
    cannot be near-dup candidates)."""
    docs = spark.createDataFrame(
        [(1, BASE, "s"), (2, None, "s"), (3, BASE, "s")],
        "doc_id long, text string, source string")
    mh = minhash_candidate_pairs(docs).collect()
    assert {(r["id_1"], r["id_2"]) for r in mh} == {(1, 3)}
    sh = simhash_candidate_pairs(docs).collect()
    assert {(r["id_1"], r["id_2"]) for r in sh} == {(1, 3)}
    nj = ngram_jaccard_pairs(docs).collect()
    assert {(r["id_1"], r["id_2"]) for r in nj} == {(1, 3)}


def test_null_vectors_do_not_crash_lsh(spark):
    from etl_tool_rep_spark.operators.knn import lsh_near_dup_pairs
    vecs = spark.createDataFrame(
        [(1, [1.0] * 8), (2, None), (3, [1.0] * 8)],
        "vec_id long, embedding array<double>")
    got = lsh_near_dup_pairs(vecs, "vec_id", "embedding", dim=8,
                             threshold=0.9).collect()
    assert {(r["vec_id_1"], r["vec_id_2"]) for r in got} == {(1, 3)}


def test_lsh_near_dup_recall(spark, sf_dir):
    """Hyperplane-LSH candidates vs the exact all-pairs result: at
    threshold 0.4 (weak similarity — 66 degrees) theory gives ~50%
    recall for 4x4-bit bands; identical/high-sim pairs recall ~1.
    Assert a conservative floor + zero false positives (LSH output is
    exact-checked, so every emitted pair must be in the truth set)."""
    from etl_tool_rep_spark.operators.knn import (cosine,
                                                  lsh_near_dup_pairs)
    em = load(spark, sf_dir, "embeddings")
    a = em.select(F.col("vec_id").alias("vec_id_1"),
                  F.col("embedding").alias("_va"))
    b = em.select(F.col("vec_id").alias("vec_id_2"),
                  F.col("embedding").alias("_vb"))
    exact = {(r["vec_id_1"], r["vec_id_2"])
             for r in a.join(b, F.col("vec_id_1") < F.col("vec_id_2"))
             .withColumn("_c", cosine(F.col("_va"), F.col("_vb")))
             .filter(F.col("_c") >= 0.4)
             .select("vec_id_1", "vec_id_2").collect()}
    got = {(r["vec_id_1"], r["vec_id_2"])
           for r in lsh_near_dup_pairs(em, "vec_id", "embedding",
                                       dim=64, threshold=0.4).collect()}
    assert got <= exact                       # no false positives
    if exact:
        assert len(got) / len(exact) >= 0.3   # conservative recall floor


def test_multimodal_features_deterministic(docs):
    raw = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    out1 = extract_features(raw).orderBy("doc_id")
    out2 = extract_features(raw).orderBy("doc_id")
    r1 = [tuple(r) for r in out1.collect()]
    r2 = [tuple(r) for r in out2.collect()]
    assert r1 == r2
    byid = {r[0]: r for r in r1}
    assert byid[1][1] == len(BASE.encode())        # n_bytes correct
    assert len(byid[1][2]) == 8                    # feature dim


def test_ivf_assign_preserves_string_ids(spark):
    """Regression (round-4 advice): centroid ids must keep their
    original type — the r3 rewrite forced them through SQL text as
    BIGINT and raised on string/UUID labels."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [("north", [1.0, 0.0]), ("east", [0.0, 1.0])],
        "centroid_id string, centroid_vec array<double>")
    out = ivf_assign(vecs, cents, "vec_id", "embedding")
    assert out.schema["centroid_id"].dataType.simpleString() == "string"
    got = {r["vec_id"]: r["centroid_id"] for r in out.collect()}
    assert got == {1: "north", 2: "east"}


def test_ivf_assign_guards(spark):
    """Empty centroids and non-finite components fail loudly instead
    of silently producing NULL assignments / invalid SQL."""
    vecs = spark.createDataFrame([(1, [1.0, 0.0])],
                                 "vec_id long, embedding array<double>")
    empty = spark.createDataFrame(
        [], "centroid_id long, centroid_vec array<double>")
    with pytest.raises(ValueError, match="empty"):
        ivf_assign(vecs, empty, "vec_id", "embedding")
    bad = spark.createDataFrame(
        [(1, [float("inf"), 0.0])],
        "centroid_id long, centroid_vec array<double>")
    with pytest.raises(ValueError, match="non-finite"):
        ivf_assign(vecs, bad, "vec_id", "embedding")


def test_profile_exact_distinct_negative_zero(spark):
    """Regression (round-4 advice): the exact-distinct path stacks
    values as strings; -0.0 and 0.0 stringify differently but compare
    equal under native countDistinct — they must count as ONE."""
    from etl_tool_rep_spark.operators.profile import profile_table
    df = spark.createDataFrame(
        [(0.0,), (-0.0,), (1.5,)], "x double")
    prof = profile_table(df, approx_distinct=False)
    row = prof.filter(F.col("column") == "x").collect()[0]
    assert row["n_distinct"] == 2
