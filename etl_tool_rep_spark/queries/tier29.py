"""Tier-29 queries: graph core structure, marketing attribution,
conformal calibration, and exponential-smoothing forecasts.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the analytics
surface with four operator families a data platform is asked for
weekly: k-core decomposition (the graph-health sibling of
`triangle_count` / `degree_distribution`), multi-touch attribution
over an event stream, split-conformal prediction intervals (the
distribution-free calibration primitive), and Holt linear smoothing
(the level+trend upgrade of `ewma_smooth`).

Float parity: integer-cents carriers everywhere; the Holt recurrence
uses only 0.5 coefficients (exactly representable) and identical
association in both engines, so the double fold is bit-deterministic
(house rule 4); ratios quantize via FLOOR(x * 1eN + 0.5) / 1eN
written token-identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.graph import co_supplier_edges
from ..session import hold, pin
from . import shared_sql
from .registry import query

_KCORE_K = 3
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    """Fixed-depth peel in plain SQL, unrolled as per-round DELTAS:
    p_r is the set peeled in round r (= alive_{r-1} \\ alive_r) and
    d_r carries the surviving nodes' degrees, obtained by
    DECREMENTING d_{r-1} with the edge count into p_r — identical
    semantics to 'alive_r = nodes whose degree within alive_{r-1}
    is >= k' (a node with zero alive-neighbors keeps a d_r row at
    deg 0 and peels next round, exactly as it vanishes from the
    HAVING group-by in the alive-set form). Standard SQL forbids
    aggregates in a recursive term, so the bounded rounds are
    unrolled literally — same semantics the Spark loop executes.

    The earlier alive-set form re-joined the FULL edge table against
    two full alive sets per round; at sf10 those six edge-wide
    GROUP BYs overflowed a 40 GB DuckDB temp fence (round-11
    ORACLE note). The delta form touches the full edge table once
    (d0); each round's join probes only the freshly-peeled rows, so
    per-round temp is bounded by the delta's neighborhood, not the
    graph."""
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    p{r} AS MATERIALIZED (
      SELECT node FROM d{r - 1} WHERE deg < {_KCORE_K})""")
        if r < _KCORE_ROUNDS:
            rounds.append(f"""
    d{r} AS MATERIALIZED (
      SELECT d{r - 1}.node,
             d{r - 1}.deg - COALESCE(rm.c, 0) AS deg
      FROM d{r - 1}
      LEFT JOIN (SELECT e.a AS node,
                        CAST(COUNT(*) AS BIGINT) AS c
                 FROM edges e JOIN p{r} ON p{r}.node = e.b
                 GROUP BY 1) rm USING (node)
      WHERE d{r - 1}.node NOT IN (SELECT node FROM p{r}))""")
    peeled_union = "\n      UNION ALL ".join(
        f"SELECT node, {r} AS r FROM p{r}"
        for r in range(1, _KCORE_ROUNDS + 1))
    return f"""
    WITH {shared_sql.CO_SUPPLIER_EDGES_CTES},
    nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM edges),
    d0 AS MATERIALIZED (
      SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY 1),
    {','.join(rounds)},
    peeled AS MATERIALIZED (
      {peeled_union})
    SELECT n.node AS suppkey,
           d0.deg AS degree0,
           CAST(pe.r AS BIGINT) AS peel_round,
           pe.node IS NULL AS in_core
    FROM nodes n
    JOIN d0 ON d0.node = n.node
    LEFT JOIN peeled pe ON pe.node = n.node
    """


@query("kcore_decomposition", oracle=_kcore_oracle())
def kcore_decomposition(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Bounded k-core peel of the co-supplier graph (suppliers are
    adjacent when they share an order): 6 rounds of "drop every node
    with fewer than 3 neighbors among survivors", reporting each
    node's initial degree, the round it was peeled (NULL = never),
    and whether it sits in the (round-bounded) 3-core — the
    degeneracy structure behind community mining and influence
    seeding, and the graph-shape companion to `degree_distribution`.
    Both engines execute the SAME bounded-round semantics, so the
    result is exact even if the peel has not fully converged.

    Scale: the edge build is the one fact-table self-join
    (`operators/graph.co_supplier_edges`, shared with every
    co-supplier graph key, order-key co-partitioned); each peel round
    is a semi-join of the edge list against the surviving node set
    followed by a map-side-combinable degree count. Rounds are a
    fixed constant; on a cluster each round's frontier shrinks
    monotonically, and each round's node-sized frames are held on
    the driver (``session.hold``), so its joins broadcast them.
    """
    edges = pin(co_supplier_edges(load(spark, sf_dir, "lineitem")))
    deg0 = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree0"))
    # r13 DELTA PEEL — the same restructure the DuckDB oracle got in
    # r12: instead of recounting every survivor's degree from the
    # full edge list each round (edges ⋈ alive ⋈ alive — two
    # edge-sized shuffles per round), carry (node, deg) forward and
    # per round only (a) split off this round's sub-K nodes, (b)
    # decrement survivors by their edges INTO the dropped set —
    # one edges ⋈ dropped join whose probe side shrinks to the peel
    # frontier. deg(v) - |edges(v -> dropped)| equals the recount
    # among survivors, so every round's dropped set — and therefore
    # peel_round and in_core — is identical. in_core simplifies to
    # "never peeled" (the survivors after round 6 are exactly the
    # nodes with NULL peel_round, as before).
    cur = deg0.select("node", F.col("degree0").alias("deg"))
    drops = []
    for r in range(1, _KCORE_ROUNDS + 1):
        dropped = hold(cur.filter(F.col("deg") < _KCORE_K)
                       .select("node"))
        drops.append(dropped.withColumn(
            "peel_round", F.lit(r).cast("bigint")))
        dec = (edges.join(dropped.withColumnRenamed("node", "b"), "b")
               .groupBy(F.col("a").alias("node"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("_dec")))
        cur = hold(cur.filter(F.col("deg") >= _KCORE_K)
                   .join(dec, "node", "left")
                   .select("node",
                           (F.col("deg")
                            - F.coalesce(F.col("_dec"), F.lit(0)))
                           .alias("deg")))
    peeled = drops[0]
    for d in drops[1:]:
        peeled = peeled.unionByName(d)
    return (deg0.join(peeled, "node", "left")
            .select(F.col("node").alias("suppkey"), "degree0",
                    "peel_round",
                    F.col("peel_round").isNull().alias("in_core")))


# ---------------------------------------------------------------------------
# multi-touch attribution over the event stream
# ---------------------------------------------------------------------------

@query(
    "attribution_linear",
    oracle="""
    WITH conv AS (
      SELECT event_id AS pid, user_id, ts
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT event_id AS tid, user_id, ts, event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')),
    paths AS (
      SELECT c.pid, t.tid, t.channel, t.ts,
             CAST(COUNT(*) OVER (PARTITION BY c.pid) AS BIGINT)
                 AS k,
             ROW_NUMBER() OVER (PARTITION BY c.pid
                                ORDER BY t.ts, t.tid) AS rk_first,
             ROW_NUMBER() OVER (PARTITION BY c.pid
                                ORDER BY t.ts DESC, t.tid DESC)
                 AS rk_last
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.ts <= c.ts
       AND t.ts > c.ts - INTERVAL 7 DAY)
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_conversions,
           CAST(SUM(CASE WHEN rk_first = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS first_touch,
           CAST(SUM(CASE WHEN rk_last = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS last_touch,
           CAST(CAST(SUM(CAST(FLOOR(1000000.0 / k + 0.5)
                              AS BIGINT)) AS DOUBLE) / 1000000.0
                AS DOUBLE) AS linear_credit
    FROM paths GROUP BY channel
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution over the event stream: every purchase
    is joined to the user's view/click touches in the preceding 7
    days, and each channel is credited three ways — first-touch,
    last-touch, and linear (1/k of a conversion per touch on a
    k-touch path, quantized per touch on a 1e-6 grid so the credit
    sum is exact). The three columns disagreeing is exactly the
    signal attribution analyses look for (top-of-funnel vs closer
    channels); ties on timestamp break by event id in both engines.

    Scale: one range-predicate join per user (events co-partition by
    user_id; the 7-day bound keeps per-user fan-in constant), two
    windows over per-purchase paths whose length is bounded by a
    user's weekly touch count — no corpus-sized window, no skew
    beyond a power-user cap that `domain_cap` handles upstream.
    """
    ev = load(spark, sf_dir, "events")
    conv = (ev.filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("pid"), "user_id",
                    F.col("ts").alias("cts")))
    touch = (ev.filter(F.col("event_type").isin("view", "click"))
             .select(F.col("event_id").alias("tid"), "user_id",
                     F.col("ts").alias("tts"),
                     F.col("event_type").alias("channel")))
    paths = (conv.join(touch,
                       (conv.user_id == touch.user_id)
                       & (F.col("tts") <= F.col("cts"))
                       & (F.col("tts") > F.col("cts")
                          - F.expr("INTERVAL 7 DAY")))
             .select("pid", "tid", "channel", F.col("tts").alias("ts")))
    wp = Window.partitionBy("pid")
    scored = (paths
              .withColumn("k", F.count(F.lit(1)).over(wp)
                          .cast("bigint"))
              .withColumn("rk_first", F.row_number().over(
                  wp.orderBy(F.asc("ts"), F.asc("tid"))))
              .withColumn("rk_last", F.row_number().over(
                  wp.orderBy(F.desc("ts"), F.desc("tid")))))
    return (scored.groupBy("channel")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_touches"),
                 F.countDistinct("pid").cast("bigint")
                 .alias("n_conversions"),
                 F.sum(F.when(F.col("rk_first") == 1, 1).otherwise(0))
                 .cast("bigint").alias("first_touch"),
                 F.sum(F.when(F.col("rk_last") == 1, 1).otherwise(0))
                 .cast("bigint").alias("last_touch"),
                 (F.sum(F.floor(1000000.0 / F.col("k") + 0.5)
                        .cast("bigint")).cast("double") / 1000000.0)
                 .alias("linear_credit")))


# ---------------------------------------------------------------------------
# split-conformal prediction interval + empirical coverage
# ---------------------------------------------------------------------------

@query(
    "conformal_interval",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS prio,
             o_orderkey % 2 = 0 AS is_cal,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                 AS cents
      FROM orders),
    mu AS (
      SELECT prio,
             CAST(FLOOR(CAST(SUM(cents) AS DOUBLE) / COUNT(*)
                   + 0.5) AS BIGINT) AS mu_cents,
             CAST(COUNT(*) AS BIGINT) AS n_cal
      FROM base WHERE is_cal GROUP BY 1),
    scores AS (
      SELECT b.prio, ABS(b.cents - m.mu_cents) AS s,
             m.n_cal, m.mu_cents
      FROM base b JOIN mu m ON m.prio = b.prio
      WHERE b.is_cal),
    ranked AS (
      SELECT prio, s, n_cal, mu_cents,
             ROW_NUMBER() OVER (PARTITION BY prio
                                ORDER BY s, prio) AS rk
      FROM scores),
    qhat AS (
      SELECT prio, MAX(mu_cents) AS mu_cents,
             MAX(n_cal) AS n_cal,
             MAX(CASE WHEN rk = LEAST(
                   CAST((9 * (n_cal + 1) + 9) // 10 AS BIGINT),
                   n_cal)
                 THEN s END) AS q_cents
      FROM ranked GROUP BY prio),
    test AS (
      SELECT b.prio,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(b.cents - q.mu_cents)
                           <= q.q_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS covered
      FROM base b JOIN qhat q ON q.prio = b.prio
      WHERE NOT b.is_cal GROUP BY 1)
    SELECT t.prio, q.n_cal, t.n_test,
           CAST(q.q_cents AS BIGINT) AS q_cents,
           t.covered,
           CAST(FLOOR(CAST(t.covered AS DOUBLE) * 1000000.0
                 / t.n_test + 0.5) / 1000000.0 AS DOUBLE)
               AS coverage
    FROM test t JOIN qhat q ON q.prio = t.prio
    """,
)
def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval per priority: even order
    keys calibrate, odd keys test. The conformity score is the
    absolute residual from the calibration mean (integer cents); the
    interval half-width q-hat is the ceil(0.9 * (n+1))-th smallest
    calibration score — a pure order statistic, so the
    distribution-free >= 90% coverage guarantee holds with NO model
    assumptions — and the output certifies the empirical coverage on
    the held-out half. The calibration primitive behind every
    "give me honest error bars on this model" request.

    Scale: two scans (calibrate, test), one window over calibration
    scores partitioned by group, dimension-sized q-hat table joined
    back broadcast. The order statistic shuffles only the
    calibration half, partitioned by group key.
    """
    od = load(spark, sf_dir, "orders")
    base = od.select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_orderkey") % 2 == 0).alias("is_cal"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint").alias("cents"))
    cal = base.filter("is_cal")
    mu = cal.groupBy("prio").agg(
        F.expr("CAST(FLOOR(CAST(SUM(cents) AS DOUBLE) / COUNT(*)"
               " + 0.5) AS BIGINT)").alias("mu_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    scores = (cal.join(F.broadcast(mu), "prio")
              .select("prio", "n_cal", "mu_cents",
                      F.abs(F.col("cents") - F.col("mu_cents"))
                      .alias("s")))
    wr = Window.partitionBy("prio").orderBy(F.asc("s"), F.asc("prio"))
    ranked = scores.withColumn("rk", F.row_number().over(wr))
    # r14 census pin: |prio| rows, but the subtree (calibration join +
    # per-group rank window) was re-planned by BOTH the test aggregate
    # and the final attach join — 5 orders scans in the before-plan
    qhat = pin(ranked.groupBy("prio")
               .agg(F.max("mu_cents").alias("mu_cents"),
                    F.max("n_cal").alias("n_cal"),
                    F.max(F.when(
                        F.col("rk") == F.least(
                            F.expr("CAST((9 * (n_cal + 1) + 9) DIV 10"
                                   " AS BIGINT)"),
                            F.col("n_cal")),
                        F.col("s"))).alias("q_cents")), eager=False)
    test = (base.filter(~F.col("is_cal"))
            .join(F.broadcast(qhat), "prio")
            .groupBy("prio")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_test"),
                 F.sum(F.when(
                     F.abs(F.col("cents") - F.col("mu_cents"))
                     <= F.col("q_cents"), 1).otherwise(0))
                 .cast("bigint").alias("covered")))
    return (test.join(F.broadcast(qhat), "prio")
            .select("prio", "n_cal", "n_test",
                    F.col("q_cents").cast("bigint").alias("q_cents"),
                    "covered",
                    F.expr("CAST(FLOOR(CAST(covered AS DOUBLE)"
                           " * 1000000.0 / n_test + 0.5)"
                           " AS DOUBLE) / 1000000.0")
                    .alias("coverage")))


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing
# ---------------------------------------------------------------------------

@query(
    "holt_linear_smooth",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2),
    series AS (
      SELECT prio,
             list(CAST(cents AS DOUBLE) ORDER BY d) AS ys,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1),
    folded AS (
      -- accumulator is a [level, trend] DOUBLE list: DuckDB 1.0's
      -- list_reduce rewrites later struct_pack fields of acc to the
      -- freshly-assigned values (observed: (acc,x)->(acc.l+x.l,
      -- acc.l*10) folds [1,..][2][4] to (7,70) not (7,30)), so a
      -- struct accumulator cannot express this recurrence; list
      -- elements are immutable within one lambda application
      SELECT prio, n_days,
             list_reduce(
               list_concat(
                 [[ys[1], ys[2] - ys[1]]],
                 list_transform(ys[2:],
                                y -> [y, CAST(0 AS DOUBLE)])),
               (acc, x) ->
                 [CAST(0.5 AS DOUBLE) * x[1]
                    + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                  CAST(0.5 AS DOUBLE)
                    * ((CAST(0.5 AS DOUBLE) * x[1]
                        + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]))
                       - acc[1])
                    + CAST(0.5 AS DOUBLE) * acc[2]]) AS st
      FROM series WHERE n_days >= 2)
    SELECT prio, n_days,
           CAST(FLOOR(st[1] + 0.5) AS BIGINT) AS level_cents,
           CAST(FLOOR(st[2] + 0.5) AS BIGINT) AS trend_cents,
           CAST(FLOOR(st[1] + 7.0 * st[2] + 0.5) AS BIGINT)
               AS forecast7_cents
    FROM folded
    """,
)
def holt_linear_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double exponential) smoothing of each priority's
    daily revenue: level and trend evolve as l' = a*y + (1-a)(l+b),
    b' = g*(l'-l) + (1-g)*b with a = g = 0.5, initialized at
    (l, b) = (y0, y1-y0) — the level+trend upgrade of `ewma_smooth`,
    reported as final level, trend, and the 7-day-ahead forecast
    l + 7b. The recurrence is inherently sequential, so it folds
    over the per-group sorted array with a struct accumulator
    (`aggregate` in Spark, `list_reduce` in DuckDB); every
    coefficient is exactly 0.5 and the association is written
    identically in both engines, so the double fold is
    bit-deterministic (house rule 4) and the outputs round to exact
    integer cents.

    Scale: sequential in SERIES LENGTH, parallel across groups — the
    fold runs on the daily pre-aggregate (|days| elements per group,
    ~2.4k here), after a map-side-combinable daily rollup of the
    fact table. A million independent series fold in parallel; a
    single very long series should window into segments first (the
    `temperature_resample` pattern).
    """
    od = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = (od.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
         .alias("d"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5)
                   .cast("bigint")).cast("bigint").alias("cents")))
    series = (daily.groupBy("prio")
              .agg(F.expr("sort_array(collect_list(struct(d, cents)))")
                   .alias("sc"),
                   F.count(F.lit(1)).cast("bigint").alias("n_days"))
              .withColumn("ys", F.expr(
                  "transform(sc, p -> CAST(p.cents AS DOUBLE))"))
              .filter(F.col("n_days") >= 2))
    folded = series.withColumn("st", F.expr(
        "aggregate(slice(ys, 2, size(ys) - 1),"
        " named_struct('l', ys[0], 'b', ys[1] - ys[0]),"
        " (acc, x) -> named_struct("
        "   'l', CAST(0.5 AS DOUBLE) * x"
        "        + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),"
        "   'b', CAST(0.5 AS DOUBLE)"
        "        * ((CAST(0.5 AS DOUBLE) * x"
        "            + CAST(0.5 AS DOUBLE) * (acc.l + acc.b))"
        "           - acc.l)"
        "        + CAST(0.5 AS DOUBLE) * acc.b))"))
    return folded.select(
        "prio", "n_days",
        F.expr("CAST(FLOOR(st.l + 0.5) AS BIGINT)")
        .alias("level_cents"),
        F.expr("CAST(FLOOR(st.b + 0.5) AS BIGINT)")
        .alias("trend_cents"),
        F.expr("CAST(FLOOR(st.l + 7.0 * st.b + 0.5) AS BIGINT)")
        .alias("forecast7_cents"))
