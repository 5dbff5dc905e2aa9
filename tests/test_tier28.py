"""Unit semantics for the tier-28 additions, on hand-built frames
where the expected answer is computable by eye — complementing the
DuckDB oracle gate (which proves engine parity, not intent).

* mutual_information: an independent 2x2 table has MI 0; a perfectly
  dependent one has MI = H(X) = H(Y) = ln 2.
* chi2_independence: the textbook 2x2 with known chi2; independence
  gives 0; dof = 1.
* embedding_int8_quant: a vector whose components are exact
  multiples of amax/127 reconstructs exactly (mse_sum 0) and the
  max-magnitude component saturates at |q| = 127.
* kaplan_meier: 4 subjects with one censor — the risk sets, event
  counts, and product-limit survival match the hand computation.
* doc_perplexity: a two-doc corpus where one doc is all rare tokens
  scores a strictly higher NLL than the common-token doc; the exact
  value matches the add-1 formula.
"""

import math

from etl_tool_rep_spark.queries import QUERIES


def _orders(spark, rows):
    return spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string,"
              " o_orderstatus string")


def test_mutual_information_independent(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier28 as t28
    # 2x2 uniform: X and Y independent -> MI = 0, H = ln 2 each
    rows = [(i, p, s) for i, (p, s) in enumerate(
        [("A", "F"), ("A", "O"), ("B", "F"), ("B", "O")] * 5)]
    monkeypatch.setattr(t28, "load",
                        lambda s, d, n: _orders(spark, rows))
    got = QUERIES["mutual_information"](spark, "x").collect()[0]
    assert got["n"] == 20 and got["n_cells"] == 4
    assert got["mi_nats"] == 0.0
    assert abs(got["h_x"] - math.log(2)) < 2e-6
    assert abs(got["h_y"] - math.log(2)) < 2e-6


def test_mutual_information_dependent(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier28 as t28
    # Y fully determined by X -> MI = H(X) = H(Y) = ln 2
    rows = [(i, p, s) for i, (p, s) in enumerate(
        [("A", "F"), ("B", "O")] * 8)]
    monkeypatch.setattr(t28, "load",
                        lambda s, d, n: _orders(spark, rows))
    got = QUERIES["mutual_information"](spark, "x").collect()[0]
    assert abs(got["mi_nats"] - math.log(2)) < 2e-6
    assert abs(got["mi_nats"] - got["h_x"]) < 2e-6


def test_chi2_independence_semantics(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier28 as t28
    # independent table -> chi2 0, dof (2-1)(2-1) = 1, V = 0
    rows = [(i, p, s) for i, (p, s) in enumerate(
        [("A", "F"), ("A", "O"), ("B", "F"), ("B", "O")] * 3)]
    monkeypatch.setattr(t28, "load",
                        lambda s, d, n: _orders(spark, rows))
    got = QUERIES["chi2_independence"](spark, "x").collect()[0]
    assert got["dof"] == 1
    assert got["chi2"] == 0.0 and got["cramers_v"] == 0.0
    # fully dependent 2x2 with n=16 -> chi2 = n = 16, V = 1
    rows = [(i, p, s) for i, (p, s) in enumerate(
        [("A", "F"), ("B", "O")] * 8)]
    monkeypatch.setattr(t28, "load",
                        lambda s, d, n: _orders(spark, rows))
    got = QUERIES["chi2_independence"](spark, "x").collect()[0]
    assert abs(got["chi2"] - 16.0) < 1e-4
    assert abs(got["cramers_v"] - 1.0) < 1e-6


def test_embedding_int8_quant_exact(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier28 as t28
    # components at exact code points k * amax/127: zero error,
    # amax component saturates at 127
    amax = 2.54
    vec = [amax, -amax, amax / 127.0 * 50, 0.0]
    emb = spark.createDataFrame(
        [(0, [float(x) for x in vec], 0)],
        "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(t28, "load", lambda s, d, n: emb)
    got = QUERIES["embedding_int8_quant"](spark, "x").collect()[0]
    assert got["n_sat"] == 2          # +amax and -amax
    assert got["q_sum"] == 50         # 127 - 127 + 50 + 0
    assert got["q_l1"] == 304         # 127 + 127 + 50 + 0
    # float32 storage perturbs the exact code points by < 1e-7 per
    # component; the 1e-9-grid error terms stay tiny but non-zero
    assert got["mse_sum"] < 1e-6


def test_kaplan_meier_hand_curve(spark, monkeypatch):
    import datetime
    import etl_tool_rep_spark.queries.tier28 as t28
    # 4 orders, durations 1,2,2,3 weeks; the week-2 'O' order is
    # censored. KM: t=1 (n=4,d=1) S=3/4; t=2 (n=3,d=1,c=1) S=1/2;
    # t=3 (n=1,d=1) -> curve hits zero, log_survival NULL.
    base = datetime.date(1995, 1, 1)
    od, li = [], []
    for k, (weeks, status) in enumerate(
            [(1, "F"), (2, "F"), (2, "O"), (3, "F")]):
        od.append((k, "P", status, base))
        li.append((k, base + datetime.timedelta(days=7 * weeks)))
    odf = spark.createDataFrame(
        od, "o_orderkey long, o_orderpriority string,"
            " o_orderstatus string, o_orderdate date")
    ldf = spark.createDataFrame(
        li, "l_orderkey long, l_shipdate date")
    monkeypatch.setattr(
        t28, "load",
        lambda s, d, n: odf if n == "orders" else ldf)
    got = {r["t_weeks"]: r
           for r in QUERIES["kaplan_meier"](spark, "x").collect()}
    assert got[1]["n_risk"] == 4 and got[1]["d_events"] == 1
    assert abs(got[1]["log_survival"] - math.log(0.75)) < 2e-6
    assert got[2]["n_risk"] == 3 and got[2]["d_events"] == 1
    assert got[2]["censored"] == 1
    assert abs(got[2]["log_survival"] - math.log(0.5)) < 4e-6
    assert got[3]["n_risk"] == 1 and got[3]["log_survival"] is None


def test_doc_perplexity_rare_vs_common(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier28 as t28
    # doc0 repeats one common word; doc1 is four singletons.
    # T = 8 tokens, V = 5 types. NLL(doc0) = ln(13) - ln(5);
    # NLL(doc1) = ln(13) - ln(2).
    docs = spark.createDataFrame(
        [(0, "same same same same", "en", "s", 19),
         (1, "aaa bbb ccc ddd", "en", "s", 15)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    monkeypatch.setattr(t28, "load", lambda s, d, n: docs)
    got = {r["doc_id"]: r
           for r in QUERIES["doc_perplexity"](spark, "x").collect()}
    assert got[0]["n_tokens"] == 4 and got[1]["n_tokens"] == 4
    assert abs(got[0]["nll"] - (math.log(13) - math.log(5))) < 3e-6
    assert abs(got[1]["nll"] - (math.log(13) - math.log(2))) < 3e-6
    assert got[1]["nll"] > got[0]["nll"]
