"""Tier-32 queries: density clustering, burst detection, k-fold
model evaluation, and bidirectional nearest joins.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup). The tier continues the
exact-iteration program: `grid_dbscan` brings the DBSCAN family in
(tier-22 covered k-means) via grid-cell density + bounded min-label
components; `burst_viterbi` is a two-state min-plus Viterbi — the
dynamic-programming-over-sequence family — kept exact the same way
`bellman_ford_exact` is (integer costs, no quantization inside the
fold); `stump_cv` upgrades tier-30's trained stump to a 5-fold
cross-validation certified end to end (per-fold training deciles,
per-fold argmax, held-out accuracy); `nearest_event_join` is the
bidirectional as-of (nearest by |gap|, tie to the earlier event)
that `asof_join` (backward-only) cannot express.

Exactness: counts, ranks, epoch-microsecond gaps and min-plus costs
are BIGINTs end to end; the only logs (Poisson emission costs)
quantize onto the 1e-6 grid per (state, day) BEFORE the fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..session import local_frame, pin
from .registry import query

_LNQ = ("CAST(FLOOR(LN(CAST({v} AS DOUBLE)) * 1000000.0 + 0.5)"
        " AS BIGINT)")

_DBSCAN_ROUNDS = 6
_CELL = 250000          # 0.25 embedding units on the 1e6 grid
_MINPTS = 5
_GAMMA = 2000000        # 2 nats to enter the burst state


# ---------------------------------------------------------------------------
# grid DBSCAN over the first two embedding dimensions
# ---------------------------------------------------------------------------

def _dbscan_oracle() -> str:
    rounds = []
    prev = "lab0"
    for r in range(1, _DBSCAN_ROUNDS + 1):
        rounds.append(f"""
    lab{r} AS MATERIALIZED (
      SELECT l.key, LEAST(l.lab, MIN(n.lab)) AS lab
      FROM {prev} l
      JOIN adj a ON a.akey = l.key
      JOIN {prev} n ON n.key = a.bkey
      GROUP BY l.key, l.lab)""")
        prev = f"lab{r}"
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT vec_id,
             CAST(FLOOR(CAST(FLOOR(CAST(embedding[1] AS DOUBLE)
                    * 1000000.0 + 0.5) AS DOUBLE)
                    / {_CELL}) AS BIGINT) AS gx,
             CAST(FLOOR(CAST(FLOOR(CAST(embedding[2] AS DOUBLE)
                    * 1000000.0 + 0.5) AS DOUBLE)
                    / {_CELL}) AS BIGINT) AS gy
      FROM embeddings),
    cells AS MATERIALIZED (
      SELECT gx, gy, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    offs AS (SELECT dx, dy
             FROM unnest([-1, 0, 1]) AS a(dx),
                  unnest([-1, 0, 1]) AS b(dy)),
    dens AS MATERIALIZED (
      SELECT c.gx, c.gy, c.cnt,
             CAST(SUM(n.cnt) AS BIGINT) AS nbr_cnt
      FROM cells c
      JOIN offs o ON TRUE
      JOIN cells n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
      GROUP BY c.gx, c.gy, c.cnt),
    core AS MATERIALIZED (
      SELECT gx, gy, cnt, nbr_cnt,
             (gx + 50000) * 100000 + (gy + 50000) AS key
      FROM dens WHERE nbr_cnt >= {_MINPTS}),
    adj AS MATERIALIZED (
      SELECT a.key AS akey, b.key AS bkey
      FROM core a
      JOIN offs o ON TRUE
      JOIN core b ON b.gx = a.gx + o.dx AND b.gy = a.gy + o.dy),
    lab0 AS (SELECT key, key AS lab FROM core),
    {','.join(rounds)}
    SELECT c.gx, c.gy, c.cnt, c.nbr_cnt,
           CAST(l.lab AS BIGINT) AS cluster
    FROM core c JOIN {prev} l ON l.key = c.key
    """


@query("grid_dbscan", oracle=_dbscan_oracle())
def grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid DBSCAN over the first two embedding dimensions:
    coordinates quantize once onto a 1e6 integer grid and bucket
    into 0.25-unit cells; a cell is CORE when its 3x3 neighborhood
    holds >= 5 points; clusters are connected components of core
    cells under 8-adjacency, labeled by 6 bounded min-label rounds
    (the `dedup_components_exact` discipline) — the density-based
    clustering family (k-means' complement: finds arbitrary-shape
    clusters and leaves sparse noise unlabeled) in its scalable
    grid-approximation form. Both engines execute the same bounded
    rounds, so labels match exactly even before full convergence.

    Scale: the cell census is the only corpus-sized stage (map-side
    combinable); density and adjacency are 9-way equi-joins on the
    CELL table (orders of magnitude smaller than points — this is
    exactly why grid-DBSCAN is the 100-TB variant of DBSCAN);
    min-label rounds run on the core-cell graph.
    """
    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.expr(f"CAST(FLOOR(CAST(FLOOR(CAST(embedding[0] AS DOUBLE)"
               f" * 1000000.0 + 0.5) AS DOUBLE)"
               f" / {_CELL}) AS BIGINT)").alias("gx"),
        F.expr(f"CAST(FLOOR(CAST(FLOOR(CAST(embedding[1] AS DOUBLE)"
               f" * 1000000.0 + 0.5) AS DOUBLE)"
               f" / {_CELL}) AS BIGINT)").alias("gy"))
    cells = pin(pts.groupBy("gx", "gy")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    offs = local_frame(
        spark, [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx long, dy long")
    n = cells.select(F.col("gx").alias("ngx"),
                     F.col("gy").alias("ngy"),
                     F.col("cnt").alias("ncnt"))
    dens = (cells.crossJoin(F.broadcast(offs))
            .join(n, (F.col("ngx") == F.col("gx") + F.col("dx"))
                  & (F.col("ngy") == F.col("gy") + F.col("dy")))
            .groupBy("gx", "gy", "cnt")
            .agg(F.sum("ncnt").cast("bigint").alias("nbr_cnt")))
    core = pin(dens.filter(F.col("nbr_cnt") >= _MINPTS)
               .withColumn("key", (F.col("gx") + 50000) * 100000
                           + (F.col("gy") + 50000)))
    cb = core.select(F.col("gx").alias("bgx"),
                     F.col("gy").alias("bgy"),
                     F.col("key").alias("bkey"))
    adj = pin(core.crossJoin(F.broadcast(offs))
              .join(cb, (F.col("bgx") == F.col("gx") + F.col("dx"))
                    & (F.col("bgy") == F.col("gy") + F.col("dy")))
              .select(F.col("key").alias("akey"), "bkey"))
    lab = core.select("key", F.col("key").alias("lab"))
    for _ in range(_DBSCAN_ROUNDS):
        nl = lab.select(F.col("key").alias("bkey"),
                        F.col("lab").alias("nlab"))
        lab = pin(lab.join(adj, lab.key == adj.akey)
                  .join(nl, "bkey")
                  .groupBy("key", "lab")
                  .agg(F.min("nlab").alias("mn"))
                  .select("key", F.least("lab", "mn").alias("lab")))
    return (core.join(lab, "key")
            .select("gx", "gy", "cnt", "nbr_cnt",
                    F.col("lab").cast("bigint").alias("cluster")))


# ---------------------------------------------------------------------------
# two-state min-plus Viterbi burst detection
# ---------------------------------------------------------------------------

@query(
    "burst_viterbi",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM orders GROUP BY 1, 2),
    rate AS (
      SELECT prio,
             CAST(SUM(k) * 1000000 // COUNT(*) AS BIGINT) AS r0q,
             CAST(2 * (SUM(k) * 1000000 // COUNT(*)) AS BIGINT)
                 AS r1q,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1),
    em AS (
      SELECT d.prio, d.d, r.n_days,
             -(d.k * ({_LNQ.format(v='r.r0q')}
                      - {_LNQ.format(v='1000000')}) - r.r0q)
                 AS e0,
             -(d.k * ({_LNQ.format(v='r.r1q')}
                      - {_LNQ.format(v='1000000')}) - r.r1q)
                 AS e1
      FROM daily d JOIN rate r ON r.prio = d.prio),
    ser AS (
      SELECT prio, MAX(n_days) AS n_days,
             list([CAST(e0 AS BIGINT), CAST(e1 AS BIGINT)]
                  ORDER BY d) AS es
      FROM em GROUP BY prio),
    folded AS (
      SELECT prio, n_days,
             list_reduce(
               list_concat(
                 [[es[1][1], {_GAMMA} + es[1][2]]],
                 es[2:]),
               (acc, x) ->
                 [LEAST(acc[1], acc[2]) + x[1],
                  LEAST(acc[1] + {_GAMMA}, acc[2]) + x[2]])
                 AS st
      FROM ser WHERE n_days >= 2)
    SELECT prio, n_days,
           CAST(st[1] AS BIGINT) AS cost_base,
           CAST(st[2] AS BIGINT) AS cost_burst,
           st[2] < st[1] AS ends_bursty
    FROM folded
    """,
)
def burst_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-state Kleinberg-style burst detection over each
    priority's daily order counts via min-plus Viterbi: state 0
    emits at the series' base rate, state 1 at twice it, entering
    the burst costs 2 nats — the optimal state-path costs evolve as
    c0' = min(c0, c1) + e0(d), c1' = min(c0 + gamma, c1) + e1(d).
    Poisson emission costs -(k ln r - r) quantize onto the 1e-6 grid
    per (state, day) BEFORE the fold, so the min-plus recursion runs
    in pure BIGINTs — dynamic programming over sequences joins
    Bellman-Ford in the no-float-anywhere class. Output per
    priority: both terminal path costs and whether the series ends
    in a burst.

    Scale: sequential in series length, parallel across groups, on
    the daily pre-aggregate (the `holt_linear_smooth` shape with a
    min-plus instead of a linear fold). Backtracking the full state
    path adds a second fold carrying a bounded bitmask — same plan.
    """
    od = load(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01").cast("date")
    daily = (od.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch)
         .alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("k")))
    rate = (daily.groupBy("prio")
            .agg(F.expr("CAST(SUM(k) * 1000000 DIV COUNT(*)"
                        " AS BIGINT)").alias("r0q"),
                 F.expr("CAST(2 * (SUM(k) * 1000000 DIV COUNT(*))"
                        " AS BIGINT)").alias("r1q"),
                 F.count(F.lit(1)).cast("bigint").alias("n_days")))
    em = (daily.join(F.broadcast(rate), "prio")
          .select("prio", "d", "n_days",
                  F.expr(f"-(k * ({_LNQ.format(v='r0q')}"
                         f" - {_LNQ.format(v='1000000')}) - r0q)")
                  .alias("e0"),
                  F.expr(f"-(k * ({_LNQ.format(v='r1q')}"
                         f" - {_LNQ.format(v='1000000')}) - r1q)")
                  .alias("e1")))
    ser = (em.groupBy("prio")
           .agg(F.max("n_days").alias("n_days"),
                F.expr("transform(sort_array(collect_list("
                       "struct(d, e0, e1))),"
                       " p -> array(p.e0, p.e1))").alias("es"))
           .filter(F.col("n_days") >= 2))
    folded = ser.withColumn("st", F.expr(
        f"aggregate(slice(es, 2, size(es) - 1),"
        f" array(es[0][0], {_GAMMA}L + es[0][1]),"
        f" (acc, x) -> array("
        f"   LEAST(acc[0], acc[1]) + x[0],"
        f"   LEAST(acc[0] + {_GAMMA}L, acc[1]) + x[1]))"))
    return folded.select(
        "prio", "n_days",
        F.expr("CAST(st[0] AS BIGINT)").alias("cost_base"),
        F.expr("CAST(st[1] AS BIGINT)").alias("cost_burst"),
        (F.col("st")[1] < F.col("st")[0]).alias("ends_bursty"))


# ---------------------------------------------------------------------------
# 5-fold cross-validated decision stump
# ---------------------------------------------------------------------------

@query(
    "stump_cv",
    oracle="""
    WITH lab AS (
      SELECT CAST(o_orderkey % 5 AS BIGINT) AS fold,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                 AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    folds AS (SELECT UNNEST([0, 1, 2, 3, 4]) AS f),
    train AS (
      SELECT f.f, l.cents, l.y
      FROM folds f JOIN lab l ON l.fold <> f.f),
    ranked AS (
      SELECT f, cents, y,
             ROW_NUMBER() OVER (PARTITION BY f
                                ORDER BY cents, y) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY f) AS BIGINT) AS n
      FROM train),
    cand AS (
      SELECT DISTINCT f, cents AS thr
      FROM ranked r
      WHERE EXISTS (SELECT 1 FROM unnest([1,2,3,4,5,6,7,8,9]) t(k)
                    WHERE r.rk = (t.k * r.n) // 10)),
    stats AS (
      SELECT f, CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM train GROUP BY 1),
    split AS (
      SELECT c.f, c.thr, s.pos, s.n,
             CAST(SUM(CASE WHEN t.cents <= c.thr THEN 1 ELSE 0 END)
                  AS BIGINT) AS nl,
             CAST(SUM(CASE WHEN t.cents <= c.thr THEN t.y ELSE 0
                      END) AS BIGINT) AS posl
      FROM cand c
      JOIN stats s ON s.f = c.f
      JOIN train t ON t.f = c.f
      GROUP BY c.f, c.thr, s.pos, s.n),
    gain AS (
      SELECT f, thr, nl, posl, pos, n,
             CAST(FLOOR((
               (CAST(2 AS DOUBLE) * pos * (n - pos))
                 / (CAST(n AS DOUBLE) * n)
               - CAST(nl AS DOUBLE) / n
                 * ((CAST(2 AS DOUBLE) * posl * (nl - posl))
                    / (CAST(nl AS DOUBLE) * nl))
               - CAST(n - nl AS DOUBLE) / n
                 * ((CAST(2 AS DOUBLE) * (pos - posl)
                     * ((n - nl) - (pos - posl)))
                    / (CAST(n - nl AS DOUBLE) * (n - nl)))
             ) * 1000000000.0 + 0.5) AS BIGINT) AS gain_q
      FROM split WHERE nl > 0 AND nl < n),
    mx AS (
      SELECT f, MAX(gain_q) AS gmax FROM gain GROUP BY 1),
    best AS (
      SELECT g.f, MIN(g.thr) AS thr, MAX(g.gain_q) AS gain_q
      FROM gain g JOIN mx ON mx.f = g.f AND g.gain_q = mx.gmax
      GROUP BY g.f),
    rule AS (
      -- majority label on each side of the training split
      SELECT b.f, b.thr, b.gain_q,
             CAST(CASE WHEN 2 * g.posl >= g.nl THEN 1 ELSE 0 END
                  AS BIGINT) AS pred_left,
             CAST(CASE WHEN 2 * (g.pos - g.posl)
                            >= (g.n - g.nl) THEN 1 ELSE 0 END
                  AS BIGINT) AS pred_right
      FROM best b JOIN gain g ON g.f = b.f AND g.thr = b.thr),
    test AS (
      SELECT r.f, r.thr, r.gain_q,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN (CASE WHEN l.cents <= r.thr
                        THEN r.pred_left ELSE r.pred_right END) = l.y
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM rule r JOIN lab l ON l.fold = r.f
      GROUP BY r.f, r.thr, r.gain_q)
    SELECT f AS fold, thr AS threshold_cents,
           CAST(CAST(gain_q AS DOUBLE) / 1000000000.0 AS DOUBLE)
               AS train_gain,
           n_test, n_correct,
           CAST(FLOOR(CAST(n_correct AS DOUBLE) * 1000000.0
                 / n_test + 0.5) / 1000000.0 AS DOUBLE)
               AS test_accuracy
    FROM test
    """,
)
def stump_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the tier-30 decision stump,
    certified end to end: per fold the stump trains on the other
    four folds (per-fold decile candidates, Gini gains, argmax with
    min-threshold tie-break, majority-label leaves) and is scored on
    the held-out fold — the evaluation loop every model selection
    runs, as ONE declarative plan (no driver-side training loop).
    All counts and ranks are exact integers; gains quantize on the
    1e-9 grid; leaf predictions compare 2*pos >= n in integers.

    Scale: the fold fan-out is a 5x row expansion (at 100 TB:
    pre-bucket rows into (fold, cents-bucket, y) cells first, the
    same histogram trick as the single stump); everything downstream
    is per-fold windows and |folds| x |candidates|-sized joins.
    """
    od = load(spark, sf_dir, "orders")
    lab = od.select(
        (F.col("o_orderkey") % 5).cast("bigint").alias("fold"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        .alias("y"))
    folds = spark.range(0, 5).select(F.col("id").alias("f"))
    train = (lab.crossJoin(F.broadcast(folds))
             .filter(F.col("fold") != F.col("f"))
             .select("f", "cents", "y"))
    wf = Window.partitionBy("f").orderBy("cents", "y")
    ranked = (train
              .withColumn("rk", F.row_number().over(wf))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy("f")).cast("bigint")))
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    cand = (ranked.join(F.broadcast(ks),
                        F.col("rk") == F.expr("(k * n) DIV 10"))
            .select("f", F.col("cents").alias("thr")).distinct())
    stats = train.groupBy("f").agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.count(F.lit(1)).cast("bigint").alias("n"))
    split = (F.broadcast(cand.join(stats, "f"))
             .join(train.withColumnRenamed("f", "tf"),
                   F.col("tf") == F.col("f"))
             .groupBy("f", "thr", "pos", "n")
             .agg(F.sum(F.when(F.col("cents") <= F.col("thr"), 1)
                        .otherwise(0)).cast("bigint").alias("nl"),
                  F.sum(F.when(F.col("cents") <= F.col("thr"),
                               F.col("y")).otherwise(0))
                  .cast("bigint").alias("posl")))
    # r14 census pin: gain is <= |folds| x |candidates| (~45) rows, but
    # its subtree (5x fold fan-out + per-fold window + candidate/stats
    # joins) is the whole training cost and was re-planned by THREE
    # consumers (mx, best, rule) — 10 orders scans in the before-plan.
    # Different projections per consumer => the r13 pin heuristic
    # applies.
    gain = pin(split.filter("nl > 0 AND nl < n")
               .withColumn("gain_q", F.expr(
                   "CAST(FLOOR(("
                   " (CAST(2 AS DOUBLE) * pos * (n - pos))"
                   "   / (CAST(n AS DOUBLE) * n)"
                   " - CAST(nl AS DOUBLE) / n"
                   "   * ((CAST(2 AS DOUBLE) * posl * (nl - posl))"
                   "      / (CAST(nl AS DOUBLE) * nl))"
                   " - CAST(n - nl AS DOUBLE) / n"
                   "   * ((CAST(2 AS DOUBLE) * (pos - posl)"
                   "       * ((n - nl) - (pos - posl)))"
                   "      / (CAST(n - nl AS DOUBLE) * (n - nl)))"
                   ") * 1000000000.0 + 0.5) AS BIGINT)")), eager=False)
    mx = (gain.groupBy("f").agg(F.max("gain_q").alias("gmax"))
          .withColumnRenamed("f", "mf"))
    best = (gain.join(mx, (F.col("f") == F.col("mf"))
                      & (F.col("gain_q") == F.col("gmax")))
            .groupBy("f")
            .agg(F.min("thr").alias("thr"),
                 F.max("gain_q").alias("gain_q")))
    rule = (best.join(
        gain.select(F.col("f").alias("gf"), F.col("thr").alias("gt"),
                    "nl", "posl", "pos", "n"),
        (F.col("gf") == F.col("f")) & (F.col("gt") == F.col("thr")))
        .select("f", "thr", "gain_q",
                F.expr("CAST(CASE WHEN 2 * posl >= nl THEN 1 ELSE 0"
                       " END AS BIGINT)").alias("pred_left"),
                F.expr("CAST(CASE WHEN 2 * (pos - posl)"
                       " >= (n - nl) THEN 1 ELSE 0 END AS BIGINT)")
                .alias("pred_right")))
    test = (F.broadcast(rule)
            .join(lab, F.col("fold") == F.col("f"))
            .groupBy("f", "thr", "gain_q")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_test"),
                 F.sum(F.when(
                     F.expr("(CASE WHEN cents <= thr THEN pred_left"
                            " ELSE pred_right END) = y"), 1)
                     .otherwise(0)).cast("bigint")
                 .alias("n_correct")))
    return test.select(
        F.col("f").alias("fold"),
        F.col("thr").alias("threshold_cents"),
        (F.col("gain_q").cast("double") / 1000000000.0)
        .alias("train_gain"),
        "n_test", "n_correct",
        F.expr("CAST(FLOOR(CAST(n_correct AS DOUBLE) * 1000000.0"
               " / n_test + 0.5) AS DOUBLE) / 1000000.0")
        .alias("test_accuracy"))


# ---------------------------------------------------------------------------
# bidirectional nearest-timestamp join
# ---------------------------------------------------------------------------

@query(
    "nearest_event_join",
    oracle="""
    WITH ue AS (
      SELECT event_id, user_id,
             epoch_us(ts) AS us,
             event_type
      FROM events WHERE event_type IN ('error', 'click')),
    seq AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'click'
                 THEN us END) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_click,
             MIN(CASE WHEN event_type = 'click'
                 THEN us END) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                 AS next_click
      FROM ue)
    SELECT event_id AS error_id, user_id,
           CAST(CASE
             WHEN prev_click IS NULL THEN next_click - us
             WHEN next_click IS NULL THEN us - prev_click
             WHEN us - prev_click <= next_click - us
               THEN us - prev_click
             ELSE next_click - us END AS BIGINT) AS gap_us,
           CASE
             WHEN prev_click IS NULL THEN 'after'
             WHEN next_click IS NULL THEN 'before'
             WHEN us - prev_click <= next_click - us THEN 'before'
             ELSE 'after' END AS nearest_side
    FROM seq
    WHERE event_type = 'error'
      AND (prev_click IS NOT NULL OR next_click IS NOT NULL)
    """,
)
def nearest_event_join(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    """Bidirectional nearest-timestamp join: for every error event,
    the nearest click by the SAME user in either direction (|gap| in
    exact epoch microseconds, ties to the earlier click) — the
    diagnostic join behind "what was the user doing when it broke"
    that a backward-only as-of (`asof_join`) cannot answer. One
    union-sorted window per user computes the previous and next
    click for every error simultaneously — no self-join, no range
    blowup, the same union-marker trick as `operators/asof.py` run
    in both directions at once.

    Scale: one shuffle on user_id, one sort per partition, two
    running extremes — cost identical to a single as-of join
    regardless of how many errors or clicks a user has.
    """
    ev = load(spark, sf_dir, "events")
    ue = (ev.filter(F.col("event_type").isin("error", "click"))
          .select("event_id", "user_id",
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                  .alias("us"),
                  "event_type"))
    w = (Window.partitionBy("user_id")
         .orderBy("us", "event_id"))
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    nxt = w.rowsBetween(1, Window.unboundedFollowing)
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    seq = (ue
           .withColumn("prev_click", F.max(click_us).over(prev))
           .withColumn("next_click", F.min(click_us).over(nxt)))
    err = seq.filter(
        (F.col("event_type") == "error")
        & (F.col("prev_click").isNotNull()
           | F.col("next_click").isNotNull()))
    before_gap = F.col("us") - F.col("prev_click")
    after_gap = F.col("next_click") - F.col("us")
    use_before = (F.col("next_click").isNull()
                  | (F.col("prev_click").isNotNull()
                     & (before_gap <= after_gap)))
    return err.select(
        F.col("event_id").alias("error_id"), "user_id",
        F.when(F.col("prev_click").isNull(), after_gap)
        .when(use_before, before_gap).otherwise(after_gap)
        .cast("bigint").alias("gap_us"),
        F.when(F.col("prev_click").isNull(), "after")
        .when(use_before, "before").otherwise("after")
        .alias("nearest_side"))
