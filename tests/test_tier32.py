"""Unit semantics for the tier-32 additions, on hand-built frames
where the expected answer is computable by eye — complementing the
DuckDB oracle gate (which proves engine parity, not intent).

* grid_dbscan: two dense blobs separated by empty cells form two
  clusters; a far-away single point is not core; the labels come
  from cluster.connected_components.
* burst_viterbi: a flat series never enters the burst state (base
  path strictly cheaper); a series whose tail doubles makes the
  burst path cheaper at the end.
* stump_cv: a perfectly separable label gives 100% held-out
  accuracy on every fold at the same separating threshold.
* nearest_event_join: hand timeline with clicks on both sides —
  gap and side match the closer click, ties go to 'before'.
"""

import datetime

from etl_tool_rep_spark.queries import QUERIES


def _emb(spark, pts):
    return spark.createDataFrame(
        [(i, [float(x), float(y)] + [0.0] * 6, 0)
         for i, (x, y) in enumerate(pts)],
        "vec_id long, embedding array<float>, label int")


def test_grid_dbscan_two_blobs(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier32 as t32
    # blob A: 6 points at ~(0, 0); blob B: 6 points at ~(10, 10)
    # (40 cells apart); 1 isolated point at (-10, -10)
    pts = [(0.01 * i, 0.0) for i in range(6)]
    pts += [(10.0 + 0.01 * i, 10.0) for i in range(6)]
    pts += [(-10.0, -10.0)]
    monkeypatch.setattr(t32, "load",
                        lambda s, d, n: _emb(spark, pts))
    got = QUERIES["grid_dbscan"](spark, "x").collect()
    clusters = {r["cluster"] for r in got}
    assert len(clusters) == 2  # two blobs, isolated point not core
    assert all(r["nbr_cnt"] >= 5 for r in got)
    assert sum(r["cnt"] for r in got) == 12


def test_grid_dbscan_runs_connected_components(spark, monkeypatch):
    """grid_dbscan's min-label rounds are cluster.connected_components,
    cut at 5 iterations (6 hops, the oracle's 6 rounds)."""
    import etl_tool_rep_spark.queries.tier32 as t32
    pts = [(0.01 * i, 0.0) for i in range(6)]
    monkeypatch.setattr(t32, "load",
                        lambda s, d, n: _emb(spark, pts))
    calls = []
    real = t32.connected_components

    def spy(*args, **kwargs):
        calls.append((args[1:], kwargs))
        return real(*args, **kwargs)

    monkeypatch.setattr(t32, "connected_components", spy)
    got = QUERIES["grid_dbscan"](spark, "x").collect()
    assert calls == [(("akey", "bkey"), {"max_iterations": 5})]
    assert len({r["cluster"] for r in got}) == 1


def test_burst_viterbi_flat_vs_burst(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier32 as t32
    base = datetime.date(1995, 1, 1)
    # flat: 4 orders/day for 30 days -> never bursts
    rows = []
    k = 0
    for d in range(30):
        for _ in range(4):
            rows.append((k, "P", base + datetime.timedelta(days=d)))
            k += 1
    od = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string,"
              " o_orderdate date")
    monkeypatch.setattr(t32, "load", lambda s, d, n: od)
    got = QUERIES["burst_viterbi"](spark, "x").collect()[0]
    assert not got["ends_bursty"]
    assert got["cost_base"] < got["cost_burst"]
    # bursty tail: 2/day for 20 days then 20/day for 10 days
    rows = []
    k = 0
    for d in range(30):
        n = 20 if d >= 20 else 2
        for _ in range(n):
            rows.append((k, "P", base + datetime.timedelta(days=d)))
            k += 1
    od = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string,"
              " o_orderdate date")
    monkeypatch.setattr(t32, "load", lambda s, d, n: od)
    got = QUERIES["burst_viterbi"](spark, "x").collect()[0]
    assert got["ends_bursty"]


def test_stump_cv_separable(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier32 as t32
    # constant block prices ($100 -> 'O', $1500 -> 'F') so the
    # training-decile threshold (10000 cents) covers every held-out
    # row too -> held-out accuracy 1.0 on all five folds (varying
    # prices can put a held-out 'O' row above the training max)
    rows = []
    for i in range(50):
        hi = i % 2 == 0
        price = 1500.0 if hi else 100.0
        rows.append((i, "F" if hi else "O", price))
    od = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string,"
              " o_totalprice double")
    monkeypatch.setattr(t32, "load", lambda s, d, n: od)
    got = QUERIES["stump_cv"](spark, "x").collect()
    assert len(got) == 5
    for r in got:
        assert r["test_accuracy"] == 1.0
        assert r["threshold_cents"] == 10000


def test_nearest_event_join_sides(spark, monkeypatch):
    import etl_tool_rep_spark.queries.tier32 as t32
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    s = datetime.timedelta(seconds=1)
    rows = [
        # user 7: click at t-10s, error at t, click at t+3s
        (1, t0 - 10 * s, 7, "click", 0.0, "{}"),
        (2, t0, 7, "error", 0.0, "{}"),
        (3, t0 + 3 * s, 7, "click", 0.0, "{}"),
        # user 8: only a click BEFORE the error
        (4, t0 - 5 * s, 8, "click", 0.0, "{}"),
        (5, t0, 8, "error", 0.0, "{}"),
        # user 9: error with no clicks at all -> excluded
        (6, t0, 9, "error", 0.0, "{}"),
        # user 10: equidistant clicks -> tie goes to 'before'
        (7, t0 - 2 * s, 10, "click", 0.0, "{}"),
        (8, t0, 10, "error", 0.0, "{}"),
        (9, t0 + 2 * s, 10, "click", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    monkeypatch.setattr(t32, "load", lambda s, d, n: ev)
    got = {r["error_id"]: r
           for r in QUERIES["nearest_event_join"](spark, "x").collect()}
    assert set(got) == {2, 5, 8}
    assert got[2]["nearest_side"] == "after"
    assert got[2]["gap_us"] == 3_000_000
    assert got[5]["nearest_side"] == "before"
    assert got[5]["gap_us"] == 5_000_000
    assert got[8]["nearest_side"] == "before"
    assert got[8]["gap_us"] == 2_000_000
