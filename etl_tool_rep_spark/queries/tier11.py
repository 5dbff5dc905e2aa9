"""Tier-11 queries: corpus/ops diagnostics — vocabulary growth
(Heaps' law), funnel latency, seasonal-baseline anomalies, join-key
skew profiling, and a Poisson-bootstrap confidence interval.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the analytics
surface per the BASELINE.json capability mandate. Skew profiling and
the Poisson bootstrap are specifically 100 TB tools: the first tells
you whether a shuffle key needs salting BEFORE you run the join, the
second replaces resample-with-replacement (impossible distributed)
with independent per-row Poisson weights (Chamandy et al., "Estimating
uncertainty for massive data streams", Google 2012).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rank import grouped_prefix_sum
from ..session import pin
from .registry import query


# ---------------------------------------------------------------------------
# vocabulary growth / Heaps' law curve
# ---------------------------------------------------------------------------

@query(
    "vocab_growth",
    oracle="""
    WITH words AS (
      SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents),
    firsts AS (
      SELECT w, MIN(doc_id) AS first_doc FROM words GROUP BY w),
    news AS (
      SELECT first_doc AS doc_id, COUNT(*) AS new_words
      FROM firsts GROUP BY first_doc),
    toks AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM words GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_tok AS BIGINT) AS n_tok,
           CAST(COALESCE(n.new_words, 0) AS BIGINT) AS new_words,
           CAST(SUM(COALESCE(n.new_words, 0))
                OVER (ORDER BY t.doc_id ASC) AS BIGINT) AS vocab_size,
           CAST(SUM(t.n_tok) OVER (ORDER BY t.doc_id ASC) AS BIGINT)
             AS cum_tok
    FROM toks t LEFT JOIN news n ON n.doc_id = t.doc_id
    """,
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: documents consumed in
    doc_id order; for each, the number of never-seen-before words it
    introduces, the running distinct-vocabulary size, and the running
    token count. V(n) ~ K n^beta on natural text — a corpus whose
    curve flattens abnormally fast is template spam; one that never
    flattens is OCR noise (tokenizer-vocab planning uses this curve).

    Scale: running COUNT DISTINCT is not windowable, so it is
    decomposed: first-occurrence doc per word (one shuffle on word),
    new-word counts per doc (tiny), then cumulative sums over docs.
    The cumulative sums are the bucketed two-phase prefix sum from
    `operators.rank.grouped_prefix_sum` (round 7; deterministic
    literal-boundary buckets — the earlier `spark_partition_id()`
    shape could disagree with its own offsets across re-evaluated
    range exchanges), never a single-partition window — same utility
    as `equidepth_bins` / `pareto_frontier` / `ks_test`. Works at
    any doc count.
    """
    d = load(spark, sf_dir, "documents")
    toks_arr = F.regexp_extract_all(
        F.lower("text"), F.lit("[a-z]+"), F.lit(0))
    words = d.select("doc_id", F.explode(toks_arr).alias("w"))
    firsts = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    news = (firsts.groupBy(F.col("first_doc").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("new_words")))
    # per-doc token count WITHOUT a second tokenize+explode+shuffle:
    # size() of the match array on the scan row equals the exploded
    # group count (empty/NULL arrays drop out of both, matching the
    # oracle's words CTE); the r13-open plan tokenized documents in
    # FOUR subtrees (toks window branch + its offsets twin, firsts
    # ditto) — guide §2.3/§2.4
    toks = (d.select("doc_id", F.size(toks_arr).alias("n_tok"))
            .filter(F.col("n_tok") > 0))
    nw = F.coalesce("new_words", F.lit(0))
    # doc-count-sized 3-int rows; pin so the bucketed prefix sum's
    # two consumers (window branch + offsets branch) share one
    # computation instead of re-tokenizing per branch
    joined = pin(toks.join(news, "doc_id", "left")
                 .select("doc_id",
                         F.col("n_tok").cast("bigint").alias("n_tok"),
                         nw.cast("bigint").alias("new_words")), eager=False)
    t = grouped_prefix_sum(joined, [], [F.asc("doc_id")],
                           lead="doc_id",
                           sums={"_cv": "new_words", "_ct": "n_tok"})
    return t.select("doc_id", "n_tok", "new_words",
                    F.col("_cv").cast("bigint").alias("vocab_size"),
                    F.col("_ct").cast("bigint").alias("cum_tok"))


# ---------------------------------------------------------------------------
# funnel latency: first view -> first subsequent purchase
# ---------------------------------------------------------------------------

@query(
    "funnel_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (
      SELECT v.user_id, v.first_view, MIN(e.ts) AS first_purchase
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'purchase'
       AND e.ts >= v.first_view
      GROUP BY v.user_id, v.first_view)
    SELECT user_id, first_view, first_purchase,
           CAST(date_diff('second', first_view, first_purchase)
                AS BIGINT) AS latency_sec
    FROM p
    """,
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: each user's first 'view' and the first
    'purchase' at-or-after it, with the latency in seconds — the
    metric behind conversion-latency percentiles (the `funnel_
    conversion` query counts stage reach; this one measures speed).

    Scale: two filtered min-aggregates and one equi-join on user_id —
    the purchase side is pre-filtered and pre-aggregated per user
    BEFORE the join (conditional min with a >= predicate pushed into
    the join), so nothing quadratic touches the raw event log.
    """
    e = load(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("first_view")))
    p = (v.join(e.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts"), "user_id")
         .filter(F.col("ts") >= F.col("first_view"))
         .groupBy("user_id", "first_view")
         .agg(F.min("ts").alias("first_purchase")))
    return p.select(
        "user_id", "first_view", "first_purchase",
        (F.unix_timestamp("first_purchase")
         - F.unix_timestamp("first_view")).cast("bigint")
        .alias("latency_sec"))


# ---------------------------------------------------------------------------
# seasonal (day-of-week) baseline anomaly flags
# ---------------------------------------------------------------------------

@query(
    "seasonal_baseline",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    dow AS (
      SELECT day, rev, dayofweek(day) + 1 AS dw,  -- Spark: 1=Sunday
             COUNT(*) OVER (PARTITION BY dayofweek(day)) AS n,
             SUM(rev) OVER (PARTITION BY dayofweek(day)) AS s,
             SUM(CAST(rev AS HUGEINT) * rev)
               OVER (PARTITION BY dayofweek(day)) AS ss
      FROM daily)
    SELECT day, CAST(dw AS INT) AS dw, rev / 100.0 AS rev,
           ROUND(s / CAST(n AS DOUBLE) / 100.0, 4) AS baseline,
           ROUND((rev - s / CAST(n AS DOUBLE))
                 / (100.0 * sqrt(GREATEST(
                     ss / CAST(n AS DOUBLE)
                     - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)),
                     1e-12))) * 100.0, 6) AS zscore
    FROM dow
    """,
)
def seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline: each day's revenue against the
    mean and population-stddev of ITS weekday, as a z-score — the
    'is Tuesday low for a Tuesday?' monitor that a raw global
    threshold gets wrong on weekly-periodic series.

    All moments are exact BIGINT sums of integer cents (rev, rev^2),
    so mean/variance are identical across engines down to the final
    double ops; the z-score is rounded at 6dp. Scale: two window
    aggregates over 7 partitions of per-day rows — the fact scan
    collapses to days first (map-side), the window input is tiny.
    """
    o = load(spark, sf_dir, "orders")
    daily = (o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
             .cast("bigint").alias("rev")))
    dw = F.dayofweek("day")
    wd = Window.partitionBy(dw)
    n = F.count(F.lit(1)).over(wd)
    s = F.sum("rev").over(wd)
    revd = F.col("rev").cast("decimal(19,0)")
    ss = F.sum(revd * revd).over(wd)
    mean = s / n.cast("double")
    var = F.greatest(ss / n.cast("double") - mean * mean, F.lit(1e-12))
    return daily.select(
        "day", dw.cast("int").alias("dw"),
        (F.col("rev") / 100.0).alias("rev"),
        F.round(mean / 100.0, 4).alias("baseline"),
        F.round((F.col("rev") - mean) / (F.lit(100.0) * F.sqrt(var))
                * 100.0, 6).alias("zscore"))


# ---------------------------------------------------------------------------
# join-key skew profile (pre-shuffle planning diagnostic)
# ---------------------------------------------------------------------------

_SKEW_KEYS = ["l_orderkey", "l_partkey", "l_suppkey"]


@query(
    "skew_profile",
    oracle="""
    WITH stacked AS (
      SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
      UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
    counts AS (
      SELECT key_col, k, COUNT(*) AS c
      FROM stacked GROUP BY key_col, k),
    tot AS (
      SELECT key_col, SUM(c) AS n, COUNT(*) AS n_keys, MAX(c) AS max_c,
             CAST(SUM(CAST(c AS DECIMAL(20,10)) * CAST(c AS DECIMAL(20,10)))
                  AS DECIMAL(38,10)) AS sum_c2
      FROM counts GROUP BY key_col)
    SELECT key_col,
           CAST(n AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(max_c AS BIGINT) AS max_count,
           ROUND(max_c / CAST(n AS DOUBLE), 6) AS top_share,
           ROUND(max_c * CAST(n_keys AS DOUBLE) / n, 6) AS skew_factor,
           ROUND(CAST(sum_c2 AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6)
             AS collision_prob
    FROM tot
    """,
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic for the three lineitem join keys:
    per key column, the heaviest key's row count and share, the
    skew factor (max_count / average count — >>1 means one reducer
    drags the stage), and the self-join collision probability
    sum(c^2)/n^2 (the expected blow-up of joining the table to
    itself on that key). This is the query you run BEFORE a 100 TB
    join to decide between plain shuffle, AQE skew split, and
    salting (operators/skew.py).

    Scale: one stacked scan (3x projection union — still one pass
    over each column), a combinable per-key count, and a 3-group
    rollup; no row ever leaves with more than (key_col, k, c).
    """
    li = load(spark, sf_dir, "lineitem")
    # measured r13: a single-scan explode(array(struct...)) variant
    # is SLOWER (1.13 -> 1.41 s median) — three column-pruned scans
    # run in parallel and codegen straight into the partial agg,
    # while the generator stage serializes 3x rows through one pass.
    # Keeping the stacked union (still one pass per column).
    stacked = None
    for kc in _SKEW_KEYS:
        part = li.select(F.lit(kc).alias("key_col"),
                         F.col(kc).alias("k"))
        stacked = part if stacked is None else stacked.unionByName(part)
    counts = stacked.groupBy("key_col", "k").agg(
        F.count(F.lit(1)).alias("c"))
    cd = F.col("c").cast("decimal(20,10)")
    tot = counts.groupBy("key_col").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_c"),
        F.sum(cd * cd).cast("decimal(38,10)").alias("sum_c2"))
    return tot.select(
        "key_col",
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("max_c").cast("bigint").alias("max_count"),
        F.round(F.col("max_c") / F.col("n").cast("double"), 6)
         .alias("top_share"),
        F.round(F.col("max_c") * F.col("n_keys").cast("double")
                / F.col("n"), 6).alias("skew_factor"),
        F.round(F.col("sum_c2").cast("double")
                / (F.col("n").cast("double") * F.col("n")), 6)
         .alias("collision_prob"))


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval for a mean
# ---------------------------------------------------------------------------

_N_BOOT = 100

_BOOT_OUT = "event_type: string, b: long, swl_p: long, n_p: long"


def _poisson_partials(it):
    """mapInArrow kernel: per Arrow batch, reproduce the exact
    two-round mod-Mersenne LCG and Poisson(1) inverse CDF of the
    oracle SQL over all {0..99} replicates at once (int64 matrix ops,
    every product < 2^62), and emit PARTIAL weighted sums per
    (event_type, replicate). Bit-identity with the explode/CASE form
    is locked by tests/test_bootstrap_kernel.py."""
    import numpy as np
    import pyarrow as pa
    A, M = 1103515245, 2147483647
    th = np.array([367879, 735759, 919699, 981012, 996340, 999406],
                  dtype=np.int64)
    bs = np.arange(_N_BOOT, dtype=np.int64)
    for batch in it:
        if batch.num_rows == 0:
            continue
        et = batch.column(0).to_numpy(zero_copy_only=False)
        eid = batch.column(1).to_numpy(zero_copy_only=False)
        xl = batch.column(2)
        if xl.null_count:
            # as the oracle's SUM(w*x)/SUM(w): a NULL value adds its
            # weight to n but nothing to the weighted sum (to_numpy
            # would turn it into NaN, then into int64 garbage)
            xl = xl.fill_null(0)
        xl = xl.to_numpy(zero_copy_only=False)
        r1 = ((eid % M).astype(np.int64)[:, None] * A
              + bs[None, :] * 12345) % M
        u = (r1 * A + 12345) % M % 1000000
        w = np.searchsorted(th, u, side="right")    # Poisson inv-CDF
        uniq, inv = np.unique(et, return_inverse=True)
        swl = np.empty((len(uniq), _N_BOOT), dtype=np.int64)
        n = np.empty((len(uniq), _N_BOOT), dtype=np.int64)
        for t in range(len(uniq)):
            m = inv == t
            swl[t] = (w[m] * xl[m, None]).sum(axis=0)
            n[t] = w[m].sum(axis=0)
        yield pa.record_batch([
            pa.array(np.repeat(uniq, _N_BOOT)),
            pa.array(np.tile(bs, len(uniq))),
            pa.array(swl.reshape(-1)),
            pa.array(n.reshape(-1)),
        ], names=["event_type", "b", "swl_p", "n_p"])


@query(
    "bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT e.event_type,
             CAST(e.value AS DECIMAL(18,6)) AS x,
             b.b,
             (((e.event_id % 2147483647) * 1103515245 + b.b * 12345)
               % 2147483647 * 1103515245 + 12345)
               % 2147483647 % 1000000 AS u
      FROM events e,
           (SELECT UNNEST(range({_N_BOOT})) AS b) b),
    weighted AS (
      SELECT event_type, b,
             CASE WHEN u < 367879 THEN 0
                  WHEN u < 735759 THEN 1
                  WHEN u < 919699 THEN 2
                  WHEN u < 981012 THEN 3
                  WHEN u < 996340 THEN 4
                  WHEN u < 999406 THEN 5
                  ELSE 6 END AS w,
             x
      FROM reps),
    means AS (
      SELECT event_type, b,
             CAST(SUM(w * x) AS DOUBLE) / SUM(w) AS m
      FROM weighted GROUP BY event_type, b
      HAVING SUM(w) > 0)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_reps,
           ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means GROUP BY event_type
    """,
)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean event value per
    event type — by POISSON bootstrap: each (row, replicate) draws an
    independent Poisson(1) weight from an LCG-derived uniform (inverse
    CDF as a 7-branch CASE), replicate mean = sum(w*x)/sum(w), CI =
    2.5/97.5 percentiles over {_N_BOOT} replicate means. Classic
    resample-with-replacement needs global coordinated sampling;
    Poisson weights are per-row independent, which is what makes the
    bootstrap distributable (Chamandy et al. 2012).

    Determinism: weights derive from a two-round mod-prime LCG of
    (event_id, replicate) — exact integer arithmetic, bit-identical
    across engines; weighted sums run in DECIMAL, and the percentile
    interpolation is quantile_cont in both engines. Scale: the replicate fan-out is a
    flat map (x{_N_BOOT}); everything after is map-side-combinable
    aggregation keyed by (type, replicate) — no global state, no
    driver-side resampling.
    """
    e = load(spark, sf_dir, "events")
    # r13: scale x to an exact integer (x * 1e6, exact because x is
    # decimal(18,6)) BEFORE the replicate fan-out, so the hot path
    # sums LONGs instead of decimal(28,6). The double->decimal cast
    # stays in the JVM (its shortest-repr HALF_UP rounding is the
    # cross-engine contract); the kernel below sees only exact int64.
    #
    # r14 (guide §4.2): the 100x explode + per-row LCG/CASE ran as
    # JVM expression codegen over |events| x 100 rows. A numpy
    # mapInArrow kernel now reproduces the SAME exact integer LCG and
    # inverse-CDF (int64 matrix ops, products < 2^62) and emits
    # PARTIAL SUMS per (event_type, replicate) per Arrow batch — the
    # 100x row fan-out never materializes, and the shuffle carries
    # ~|types| x 100 rows per batch instead of the exploded stream.
    # Bit-identity with the explode form is locked by
    # tests/test_bootstrap_kernel.py (every (type, b) partial equal on
    # the fixture) and the oracle at sf0.001/0.01/0.1.
    #
    # Overflow bound (ADVICE r13): |xl| < 10^12 (decimal(18,6)), w <=
    # 6, Arrow batches <= 10^4 rows => per-batch partial < 6x10^16 <
    # 2^63 with ~150x margin AT ANY SCALE (the bound is per batch,
    # not per dataset); level 2 sums the partials in decimal(38,0).
    narrow = e.select(
        "event_type", "event_id",
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long").alias("xl"))
    means = (narrow.mapInArrow(_poisson_partials, schema=_BOOT_OUT)
             .groupBy("event_type", "b")
             .agg(F.sum(F.col("swl_p").cast("decimal(38,0)"))
                  .alias("swl"),
                  F.sum("n_p").alias("n"))
             .filter(F.col("n") > 0)
             .select("event_type",
                     ((F.col("swl")
                       * F.expr("CAST(0.000001 AS DECIMAL(7,6))"))
                      .cast("double") / F.col("n")).alias("m")))
    return (means.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_reps"),
                 F.round(F.percentile("m", F.lit(0.025)), 6).alias("ci_lo"),
                 F.round(F.percentile("m", F.lit(0.975)), 6).alias("ci_hi")))


@query(
    "join_cardinality",
    oracle="""
    WITH lo AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
    oo AS (
      SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1),
    lp AS (
      SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1),
    pp AS (
      SELECT p_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM part GROUP BY 1),
    j1 AS (
      SELECT CAST(SUM(lo.c * oo.c) AS BIGINT) AS est_rows,
             CAST(COUNT(*) AS BIGINT) AS n_matched_keys,
             CAST(MAX(lo.c * oo.c) AS BIGINT) AS max_key_rows
      FROM lo JOIN oo ON lo.k = oo.k),
    j2 AS (
      SELECT CAST(SUM(lp.c * pp.c) AS BIGINT) AS est_rows,
             CAST(COUNT(*) AS BIGINT) AS n_matched_keys,
             CAST(MAX(lp.c * pp.c) AS BIGINT) AS max_key_rows
      FROM lp JOIN pp ON lp.k = pp.k)
    SELECT 'lineitem_orders_orderkey' AS join_name,
           est_rows, n_matched_keys, max_key_rows,
           ROUND(max_key_rows / CAST(est_rows AS DOUBLE), 6)
               AS top_key_share
    FROM j1
    UNION ALL
    SELECT 'lineitem_part_partkey', est_rows, n_matched_keys,
           max_key_rows,
           ROUND(max_key_rows / CAST(est_rows AS DOUBLE), 6)
    FROM j2
    """,
)
def join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-output cardinality from key histograms — the planner
    primitive you run BEFORE committing a 100-TB join: |A join B on k|
    = sum over k of cnt_A(k) * cnt_B(k), computed from two per-key
    count aggregations joined on the key, never from the join itself.
    Reports the exact output size, matched-key count, the heaviest
    key's contribution and its share (>> 1/n_keys means AQE skew
    split or salting before the real join; pairs with `skew_profile`
    which covers the self-join case).

    Scale: the count tables are |distinct keys| rows (map-side
    combined), their join shuffles keys + counts only — bytes
    proportional to the key space, not the data. The estimate is
    EXACT for equi-joins; its cost is two cheap aggregations."""
    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders")
    pt = load(spark, sf_dir, "part")

    def counts(df, key):
        return (df.groupBy(F.col(key).alias("k"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    def one(ca, cb, name):
        j = ca.alias("a").join(cb.alias("b"), "k").select(
            (F.col("a.c") * F.col("b.c")).alias("kr"))
        agg = j.agg(F.sum("kr").cast("bigint").alias("est_rows"),
                    F.count(F.lit(1)).cast("bigint")
                     .alias("n_matched_keys"),
                    F.max("kr").cast("bigint").alias("max_key_rows"))
        return agg.select(
            F.lit(name).alias("join_name"),
            "est_rows", "n_matched_keys", "max_key_rows",
            F.round(F.col("max_key_rows")
                    / F.col("est_rows").cast("double"), 6)
             .alias("top_key_share"))

    return one(counts(li, "l_orderkey"), counts(od, "o_orderkey"),
               "lineitem_orders_orderkey").unionAll(
        one(counts(li, "l_partkey"), counts(pt, "p_partkey"),
            "lineitem_part_partkey"))
