"""Unit semantics for the tier-31 additions, on hand-built frames
where the expected answer is computable by eye — complementing the
DuckDB oracle gate (which proves engine parity, not intent).

* pca_top_component: vectors concentrated on one axis -> the top
  loading is that axis (loading 1.0 after max-rescale) and the
  Rayleigh quotient approximates the dominant second moment.
* hits_scores: a supplier covering every part dominates hub scores;
  hub score of the full-coverage supplier is exactly 1.0 after the
  max rescale.
* perceptron_train: a linearly separable label (by price band)
  reaches 100% training accuracy within 4 epochs.
* rrf_fusion: when both rankers agree, fused order equals them;
  when they fully disagree, the symmetric top item wins by the
  1/(60+r) sum computed by hand.
"""

from etl_tool_rep_spark.queries import QUERIES


def test_pca_axis_aligned(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier31 as t31
    # 8-dim vectors: dim 2 carries values +/-10, everything else 0.1
    # noise-free -> top component is e_2
    rows = []
    for k in range(6):
        v = [0.0] * 8
        v[2] = 10.0 if k % 2 == 0 else -10.0
        rows.append((k, [float(x) for x in v], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(t31, "load", lambda s, d, n: emb)
    got = {r["dim"]: r
           for r in QUERIES["pca_top_component"](spark, "x").collect()}
    assert len(got) == 8
    assert abs(got[2]["loading"]) == 1.0
    for d in got:
        if d != 2:
            assert abs(got[d]["loading"]) < 1e-6
    # Rayleigh of the UNnormalized Gram = sum of squared
    # projections: 6 vectors x (+/-10)^2 = 600
    assert abs(got[2]["rayleigh"] - 600.0) < 0.1


def test_hits_full_coverage_hub(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier31 as t31
    # supplier 1 supplies parts 1-4 (full coverage); suppliers 2-3
    # supply one part each -> supplier 1 is the max hub (score 1.0)
    rows = [(0, 1, p) for p in (1, 2, 3, 4)]
    rows += [(1, 2, 1), (2, 3, 2)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long, l_partkey long")
    monkeypatch.setattr(t31, "load", lambda s, d, n: li)
    got = {r["suppkey"]: r
           for r in QUERIES["hits_scores"](spark, "x").collect()}
    assert got[1]["hub_score"] == 1.0
    assert got[1]["out_degree"] == 4
    assert got[2]["hub_score"] < 0.5
    assert got[3]["hub_score"] < 0.5


def test_perceptron_separable(spark, monkeypatch):
    import datetime
    import etl_tool_rep_spark.queries.tier31 as t31
    # y = +1 iff x1 = price-in-$1000-units = 2, else x1 = 0 —
    # separable by w1*x1 + w0 with a SMALL bias (w0 ~ -10), so 4
    # batch epochs suffice (with far-from-origin features the
    # perceptron needs ~|x|/margin epochs to move the bias)
    base = datetime.date(1995, 1, 6)  # a fixed weekday for x2
    rows = []
    for i in range(20):
        hi = i % 2 == 0
        price = 2000.0 if hi else 500.0
        rows.append((i, "F" if hi else "O", price, base))
    od = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string,"
              " o_totalprice double, o_orderdate date")
    monkeypatch.setattr(t31, "load", lambda s, d, n: od)
    got = QUERIES["perceptron_train"](spark, "x").collect()[0]
    assert got["n"] == 20
    assert got["accuracy"] == 1.0
    assert got["w1"] > 0  # price pushes toward +1


def test_rrf_fusion_agreeing_rankers(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier31 as t31
    # construct docs where both rankers (n_chars desc, token count
    # desc) agree: more tokens <-> more chars
    rows = []
    for i in range(5):
        text = " ".join(["word"] * (10 - i))
        rows.append((i, text, "en", "s", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    monkeypatch.setattr(t31, "load", lambda s, d, n: docs)
    got = sorted(QUERIES["rrf_fusion"](spark, "x").collect(),
                 key=lambda r: r["fused_rank"])
    assert [r["doc_id"] for r in got] == [0, 1, 2, 3, 4]
    assert got[0]["rank_chars"] == 1 and got[0]["rank_tokens"] == 1
    # hand value: floor(1e6/61)*2 / 1e6
    assert got[0]["rrf_score"] == (1000000 // 61) * 2 / 1000000.0
