"""Unit semantics for the tier-20 additions on hand-built frames.

* dedup_components_exact: a 3-doc near-dup chain (A~B~C, A!~C)
  collapses to one component labeled by the min doc_id; an isolated
  pair forms its own; non-duplicated docs are absent; on a chain
  longer than the hop bound each doc keeps the min within the bound.
* rolling_active_users: exact trailing-24h distinct counts on a
  hand-placed timeline, including the window boundary at exactly
  23 hours back (inclusive) and 24 hours back (excluded).
"""

import datetime

import pytest

from etl_tool_rep_spark.queries import QUERIES


def _t(day, hour):
    return datetime.datetime(2024, 1, day, hour, 0, 0)


@pytest.fixture()
def chain_docs(spark):
    # B overlaps heavily with both A and C, but A and C share almost
    # nothing directly -> transitivity must link them (1 component)
    a = "one two three four five six seven eight"
    b = "two three four five six seven eight nine"
    c = "three four five six seven eight nine ten"
    d = "island alpha beta gamma delta epsilon zeta"
    e_ = "island alpha beta gamma delta epsilon eta"
    f = "completely different words in this document here"
    rows = [(10, a), (11, b), (12, c), (20, d), (21, e_), (30, f)]
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")


def test_components_chain_and_island(spark, chain_docs, monkeypatch):
    import etl_tool_rep_spark.queries.tier20 as t20
    monkeypatch.setattr(t20, "load", lambda s, d, n: chain_docs)
    got = {r["doc_id"]: r["component"] for r in
           QUERIES["dedup_components_exact"](spark, "ignored").collect()}
    assert got[10] == got[11] == got[12] == 10   # chain collapses
    assert got[20] == got[21] == 20              # island pair
    assert 30 not in got                         # singleton absent


def test_components_hop_bound_on_long_chain(spark, monkeypatch):
    """On a chain longer than the hop bound, each doc's component is
    the min doc_id within ``_COMP_HOPS`` hops (what the oracle's
    bounded walk computes), not the chain's minimum: no fixture graph
    has a diameter above the bound, so only a chain shows an
    off-by-one in the loop's round count."""
    import etl_tool_rep_spark.queries.tier20 as t20
    # doc k = block k + block k+1 (3 words each): neighbours share
    # exactly the 3-gram of their common block (Jaccard 1/7), docs two
    # apart share none; the minimum id sits at one end
    ids = [1, 8, 3, 10, 5, 7, 2, 9, 4, 6]

    def block(k):
        return f"a{k} b{k} c{k}"

    docs = spark.createDataFrame(
        [(d, f"{block(k)} {block(k + 1)}", "en", "s", 0)
         for k, d in enumerate(ids)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    monkeypatch.setattr(t20, "load", lambda s, d, n: docs)
    want = {}
    for k, d in enumerate(ids):
        seen, frontier = {k}, {k}
        for _ in range(t20._COMP_HOPS):
            frontier = {j for i in frontier for j in (i - 1, i + 1)
                        if 0 <= j < len(ids)} - seen
            seen |= frontier
        want[d] = min(ids[j] for j in seen)
    got = {r["doc_id"]: r["component"] for r in
           QUERIES["dedup_components_exact"](spark, "ignored").collect()}
    assert got == want
    assert got[ids[-1]] != min(ids)


def test_rolling_active_users_boundaries(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier20 as t20
    # user 1 at day1 00:00; user 2 at day1 23:00 (inside user 1's
    # 24h window ending 23:00); user 3 at day2 00:00 — user 1's hour
    # is exactly 24h back by then and must be EXCLUDED
    events = spark.createDataFrame(
        [(1, _t(1, 0), 1, "click", 1.0, None),
         (2, _t(1, 23), 2, "click", 1.0, None),
         (3, _t(2, 0), 3, "click", 1.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    monkeypatch.setattr(t20, "load", lambda s, d, n: events)
    got = {r["hour"]: r["active_users"] for r in
           QUERIES["rolling_active_users"](spark, "ignored").collect()}
    assert got[_t(1, 0)] == 1          # only user 1 so far
    assert got[_t(1, 23)] == 2         # 00:00 is 23h back -> included
    assert got[_t(2, 0)] == 2          # user 1 now 24h back -> out
    assert len(got) == 3               # only event-bearing hours emit


def test_bpe_merge_train_hand_corpus(spark, monkeypatch):
    # corpus: abab x2, abc x1 -> round 1 merges (a,b) count 5;
    # round 2 ties (ab,ab)=2 vs (ab,</w>)=2 -> '</w>' < 'ab' wins;
    # round 3 merges (ab, ab</w>) count 2
    import etl_tool_rep_spark.queries.tier15 as t15
    docs = spark.createDataFrame(
        [(0, "abab abab abc", "en", "s", 13)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    monkeypatch.setattr(t15, "load", lambda s, d, n: docs)
    from etl_tool_rep_spark.queries import QUERIES
    got = {r["merge_round"]: (r["left_sym"], r["right_sym"],
                              r["merged"], r["pair_count"])
           for r in QUERIES["bpe_merge_train"](spark, "ignored")
                    .collect()}
    assert got[1] == ("a", "b", "ab", 5)
    assert got[2] == ("ab", "</w>", "ab</w>", 2)
    assert got[3] == ("ab", "ab</w>", "abab</w>", 2)


def test_pagerank_exact_mass_and_ranking(spark, monkeypatch):
    # star graph: hub 1 <-> spokes 2,3,4 (symmetric edges via shared
    # orders). Hub must outrank spokes; total mass stays ~1 under the
    # 1e-12 quantization (error bound: iters * n * 1e-12).
    import etl_tool_rep_spark.queries.tier20 as t20
    rows = []
    for o, (a, b) in enumerate([(1, 2), (1, 3), (1, 4)]):
        rows += [(o, a), (o, b)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_suppkey long")
    monkeypatch.setattr(t20, "load", lambda s, d, n: li)
    from etl_tool_rep_spark.queries import QUERIES
    got = {r["id"]: r["pr"] for r in
           QUERIES["pagerank_exact"](spark, "ignored").collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1] > got[2] == got[3] == got[4]
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_bellman_ford_weighted_paths(spark, monkeypatch):
    # weighted line graph via shared orders: s1-s2 share 1 order,
    # s2-s3 share 2, s1-s3 share none -> dist(s3) = w12 + w23 = 3,
    # not the 1-hop INF. Source = min supplier = 1.
    # All orderkeys divisible by 4 so the determinstic sample keeps
    # every edge.
    import etl_tool_rep_spark.queries.tier20 as t20
    rows = []
    rows += [(4, 1), (4, 2)]              # order 4: s1,s2  (w12=1)
    rows += [(8, 2), (8, 3), (12, 2), (12, 3)]   # w23=2
    li = spark.createDataFrame(rows, "l_orderkey long, l_suppkey long")
    monkeypatch.setattr(t20, "load", lambda s, d, n: li)
    from etl_tool_rep_spark.queries import QUERIES
    got = {r["id"]: r["dist"] for r in
           QUERIES["bellman_ford_exact"](spark, "x").collect()}
    assert got == {1: 0, 2: 1, 3: 3}
