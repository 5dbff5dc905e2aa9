"""Tier-17 queries (round 4): CDC state application, distributional
statistics, and corpus structure census.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the declared
analytics surface with operators a 100 TB lakehouse pipeline runs
daily:

* CDC apply — collapse an insert/update/delete change log to final
  table state (the batch half of every Delta/Hudi/Iceberg MERGE);
* two-sample Kolmogorov-Smirnov — THE drift test between two value
  distributions, computed exactly with integer cross-multiplied
  ECDFs so the statistic is bit-identical across engines;
* Gini concentration — how concentrated is spend/traffic per key
  (skew as a product metric, complementing skew_profile's
  shuffle-planning view);
* Wilson score intervals — the correct small-n proportion CI for
  per-segment success rates (quality-filter pass rates at corpus
  scale);
* degree distribution — the supplier-part bipartite graph's degree
  histogram (sanity census before any graph algorithm);
* feature-hash census — hashing-trick bucket occupancy + collision
  census over corpus tokens (the sizing study run before committing
  to a hashed feature space).

Cross-engine determinism: every statistic keeps integer arithmetic
(counts, cross-multiplied ECDF gaps, ascii-derived hash buckets) or
DECIMAL sums until one final double division, then rounds — the
contract shared with the rest of the registry (registry.py header).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rank import grouped_prefix_sum
from ..session import pin
from .registry import query


# ---------------------------------------------------------------------------
# CDC apply: change-log -> final state
# ---------------------------------------------------------------------------

@query(
    "cdc_apply",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk,
             COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      FROM events)
    SELECT user_id,
           event_type AS final_type,
           ROUND(value, 6) AS final_value,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM log
    WHERE rk = 1 AND event_type <> 'error'
    """,
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change-data-capture log to produce final state: events
    are upserts keyed by user_id, ordered by (ts, event_id);
    'error' is the delete marker, so a key whose LAST operation is a
    delete is absent from the final table. This is the batch
    semantics of MERGE INTO from a CDC feed (Debezium -> Delta/Hudi),
    expressed as one window pass: last-writer-wins, then filter
    tombstones.

    Scale: one shuffle on the key; the rank and the per-key op count
    come from the same window partition. At 100 TB this beats a
    per-batch MERGE loop because the whole log collapses in a single
    pass — the standard backfill path. Ties inside ts are broken by
    event_id, so replays are deterministic.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    wc = Window.partitionBy("user_id")
    return (e.select("user_id", "event_type", "value",
                     F.row_number().over(w).alias("rk"),
                     F.count("*").over(wc).cast("bigint").alias("n_ops"))
            .filter((F.col("rk") == 1) & (F.col("event_type") != "error"))
            .select("user_id",
                    F.col("event_type").alias("final_type"),
                    F.round("value", 6).alias("final_value"),
                    "n_ops"))


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov statistic (exact, integer ECDF gaps)
# ---------------------------------------------------------------------------

@query(
    "ks_test",
    oracle="""
    WITH s AS (
      SELECT value, event_type = 'click' AS a
      FROM events WHERE event_type IN ('click', 'view')),
    n AS (
      SELECT SUM(CASE WHEN a THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN a THEN 0 ELSE 1 END) AS n2
      FROM s),
    e AS (
      SELECT value,
             SUM(CASE WHEN a THEN 1 ELSE 0 END) AS c1v,
             SUM(CASE WHEN a THEN 0 ELSE 1 END) AS c2v
      FROM s GROUP BY value),
    c AS (
      SELECT value,
             SUM(c1v) OVER (ORDER BY value) AS c1,
             SUM(c2v) OVER (ORDER BY value) AS c2
      FROM e),
    g AS (
      SELECT value, ABS(c1 * (SELECT n2 FROM n)
                        - c2 * (SELECT n1 FROM n)) AS gap
      FROM c)
    SELECT CAST((SELECT n1 FROM n) AS BIGINT) AS n1,
           CAST((SELECT n2 FROM n) AS BIGINT) AS n2,
           ROUND(CAST(MAX(gap) AS DOUBLE)
                 / ((SELECT n1 FROM n) * (SELECT n2 FROM n)), 6) AS ks_d,
           MIN(value) FILTER (WHERE gap = (SELECT MAX(gap) FROM g))
             AS at_value
    FROM g
    """,
)
def ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    'click' and 'view' value distributions: D = max over v of
    |ECDF1(v) - ECDF2(v)|, plus the (smallest) value where the max
    gap occurs. The distribution-drift test run between a reference
    corpus slice and a new crawl before admitting it.

    Exactness: the ECDF gap is kept as the INTEGER |c1*n2 - c2*n1|
    (cumulative counts cross-multiplied by the opposite sample size)
    and divided by n1*n2 only once at the end — no per-row double
    ratios to drift across engines.

    Scale: distinct-value pre-aggregation (groupBy value) collapses
    ties BEFORE any ordered pass, so the cumulative input is
    |support|, not |sample|; the cumulative counts are the bucketed
    two-phase prefix sum (`operators.rank.grouped_prefix_sum`,
    deterministic literal-boundary buckets) shared with vocab_growth.
    No single-partition window anywhere.
    """
    e = load(spark, sf_dir, "events")
    s = (e.filter(F.col("event_type").isin("click", "view"))
          .select("value", (F.col("event_type") == "click").alias("a")))
    per_v = (s.groupBy("value")
              .agg(F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("c1v"),
                   F.sum(F.when(F.col("a"), 0).otherwise(1)).alias("c2v")))
    # r14 census pins: the before-plan scanned events 8x — the prefix
    # sum's internal frame is planned twice (pin=True, the
    # percentile_window recipe) and g (support-sized, 4 narrow cols)
    # feeds BOTH the max aggregate and the argmax filter
    cum = (grouped_prefix_sum(per_v, [], [F.asc("value")],
                              lead="value",
                              sums={"c1": "c1v", "c2": "c2v"},
                              pin=True)
           .select("value", "c1", "c2"))
    n = s.agg(F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("n1"),
              F.sum(F.when(F.col("a"), 0).otherwise(1)).alias("n2"))
    g = pin(cum.crossJoin(F.broadcast(n))  # 1-row scalar attach
               .select("value", "n1", "n2",
                       F.abs(F.col("c1") * F.col("n2")
                             - F.col("c2") * F.col("n1")).alias("gap")),
            eager=False)
    mx = g.groupBy().agg(F.max("gap").alias("max_gap"))
    return (g.crossJoin(F.broadcast(mx))  # 1-row scalar attach
             .filter(F.col("gap") == F.col("max_gap"))
             .groupBy()
             .agg(F.first("n1").cast("bigint").alias("n1"),
                  F.first("n2").cast("bigint").alias("n2"),
                  F.round(F.first(F.col("max_gap").cast("double")
                                  / (F.col("n1") * F.col("n2"))), 6)
                   .alias("ks_d"),
                  F.min("value").alias("at_value")))


# ---------------------------------------------------------------------------
# Gini concentration of per-user spend, by segment
# ---------------------------------------------------------------------------

@query(
    "gini_concentration",
    oracle="""
    WITH spend AS (
      SELECT event_type, user_id,
             SUM(CAST(value AS DECIMAL(18,6))) AS x
      FROM events GROUP BY event_type, user_id),
    ranked AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY x ASC, user_id ASC) AS i
      FROM spend)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(x) AS DOUBLE), 6) AS total,
           ROUND(CAST(2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x) AS DOUBLE)
                 / (COUNT(*) * CAST(SUM(x) AS DOUBLE)), 6) AS gini
    FROM ranked GROUP BY event_type
    """,
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user value concentration within each
    event segment: G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    over ascending-sorted per-user totals. The product-side skew
    census (how much of the traffic the top users own), complementing
    skew_profile's shuffle-planning view of the same phenomenon.

    Exactness: per-user totals and the rank-weighted sums stay in
    DECIMAL; rank ties broken by user_id; the only double op is the
    final division, rounded.

    Scale: two shuffles (user agg, then segment window). The
    per-segment ORDER BY window sorts only that segment's users; the
    decimal sums are map-side combinable. The i*x_i rank weighting is
    what makes Gini need a sort at all — at 100 TB an approximate
    Gini from equi-depth bins (equidepth_bins) drops the sort
    entirely; this key is the exact reference.
    """
    e = load(spark, sf_dir, "events")
    spend = (e.groupBy("event_type", "user_id")
              .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("x")))
    w = Window.partitionBy("event_type").orderBy(
        F.col("x").asc(), F.col("user_id").asc())
    ranked = spend.select("event_type", "x",
                          F.row_number().over(w).alias("i"))
    return (ranked.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_users"),
                 F.round(F.sum("x").cast("double"), 6).alias("total"),
                 F.round((2 * F.sum(F.col("i") * F.col("x"))
                          - (F.count("*") + 1) * F.sum("x")).cast("double")
                         / (F.count("*") * F.sum("x").cast("double")), 6)
                  .alias("gini")))


# ---------------------------------------------------------------------------
# Wilson score interval per segment
# ---------------------------------------------------------------------------

@query(
    "wilson_ci",
    oracle="""
    WITH agg AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS s
      FROM events GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(s AS BIGINT) AS successes,
           ROUND((s / CAST(n AS DOUBLE) + 3.8416 / (2 * n)
                  - 1.96 * sqrt((s / CAST(n AS DOUBLE))
                                * (1 - s / CAST(n AS DOUBLE)) / n
                                + 3.8416 / (4.0 * n * n)))
                 / (1 + 3.8416 / n), 6) AS ci_lo,
           ROUND((s / CAST(n AS DOUBLE) + 3.8416 / (2 * n)
                  + 1.96 * sqrt((s / CAST(n AS DOUBLE))
                                * (1 - s / CAST(n AS DOUBLE)) / n
                                + 3.8416 / (4.0 * n * n)))
                 / (1 + 3.8416 / n), 6) AS ci_hi
    FROM agg
    """,
)
def wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the per-segment success
    proportion (success := value > 100). Unlike the normal
    approximation, Wilson stays inside [0,1] and is accurate at
    small n — the right interval for per-(source, filter) pass
    rates, where some cells have 20 documents and some have 20M.

    Exactness: n and s are integers; the double formula is written
    with the IDENTICAL association order in both engines (z=1.96,
    z^2=3.8416 folded as literals) and IEEE sqrt/div are deterministic,
    so 6-dp rounding is safely stable.

    Scale: a pure map-side-combinable aggregation — one shuffle of
    (segment) keys, O(segments) output. Free at any corpus size.
    """
    e = load(spark, sf_dir, "events")
    agg = (e.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("value") > 100, 1).otherwise(0))
                  .alias("s")))
    n = F.col("n").cast("double")
    p = F.col("s") / n
    half_w = 1.96 * F.sqrt(p * (1 - p) / n + 3.8416 / (4.0 * n * n))
    centre = p + 3.8416 / (2 * n)
    denom = 1 + 3.8416 / n
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("bigint").alias("successes"),
        F.round((centre - half_w) / denom, 6).alias("ci_lo"),
        F.round((centre + half_w) / denom, 6).alias("ci_hi"))


# ---------------------------------------------------------------------------
# degree distribution of the supplier-part bipartite graph
# ---------------------------------------------------------------------------

@query(
    "degree_distribution",
    oracle="""
    WITH deg AS (
      SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS degree
      FROM lineitem GROUP BY l_suppkey),
    n AS (SELECT COUNT(*) AS total FROM deg)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(COUNT(*) / CAST((SELECT total FROM n) AS DOUBLE), 6)
             AS share
    FROM deg GROUP BY degree
    """,
)
def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the supplier-part bipartite graph: how
    many distinct parts each supplier ships, then how many suppliers
    sit at each degree. The census run before ANY graph algorithm —
    it is what tells you whether pagerank/triangle_count will meet a
    power-law hub (and thus whether the skew paths matter).

    Scale: two key-shuffles (supplier distinct-count, then degree
    histogram), both map-side combinable; the scalar total attaches
    as a 1-row broadcast. Distinct-count per supplier is exact here;
    at 100 TB approx_count_distinct gives the same histogram shape
    for ~1/10 the shuffle width (documented trade).
    """
    li = load(spark, sf_dir, "lineitem")
    deg = (li.groupBy("l_suppkey")
             .agg(F.countDistinct("l_partkey").alias("degree")))
    n = deg.groupBy().agg(F.count("*").alias("total"))
    return (deg.groupBy("degree")
            .agg(F.count("*").alias("n_suppliers"))
            .crossJoin(F.broadcast(n))  # 1-row scalar attach
            .select(F.col("degree").cast("bigint").alias("degree"),
                    F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
                    F.round(F.col("n_suppliers")
                            / F.col("total").cast("double"), 6)
                     .alias("share")))


# ---------------------------------------------------------------------------
# feature-hash bucket census (hashing trick collision study)
# ---------------------------------------------------------------------------

@query(
    "feature_hash_census",
    oracle=r"""
    WITH toks AS (
      SELECT DISTINCT lower(t.tok) AS tok
      FROM documents d,
           LATERAL unnest(str_split_regex(d.text, '\s+')) AS t(tok)
      WHERE d.text IS NOT NULL AND t.tok <> ''),
    b AS (
      SELECT tok,
             (ascii(substr(md5(tok), 1, 1)) * 256
              + ascii(substr(md5(tok), 2, 1))) % 64 AS bucket
      FROM toks)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           MIN(tok) AS example_tok
    FROM b GROUP BY bucket
    """,
)
def feature_hash_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bucket census: every distinct lowercased token
    maps to one of 64 buckets via an md5-derived hash; the census
    reports bucket occupancy (collision pressure) and a witness
    token. Run before fixing a hashed feature-space size: occupancy
    skew here is irreversible estimation error there.

    Determinism: the bucket is ascii(h[0])*256+ascii(h[1]) mod 64
    over the md5 hex digest — engine-portable (no engine-specific
    int-hash), and only 2 string ops per distinct token.

    Scale: token explode -> distinct (one shuffle, map-side
    combinable) -> 64-key census (trivially small). The distinct
    collapses before hashing, so the md5 runs once per vocabulary
    word, not once per corpus token.
    """
    d = load(spark, sf_dir, "documents")
    toks = (d.filter(F.col("text").isNotNull())
             .select(F.explode(F.split(F.col("text"), r"\s+")).alias("tok"))
             .filter(F.col("tok") != "")
             .select(F.lower(F.col("tok")).alias("tok"))
             .distinct())
    h = F.md5(F.col("tok"))
    bucket = ((F.ascii(F.substring(h, 1, 1)) * 256
               + F.ascii(F.substring(h, 2, 1))) % 64)
    return (toks.select("tok", bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_tokens"),
                 F.min("tok").alias("example_tok"))
            .select(F.col("bucket").cast("bigint").alias("bucket"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    "example_tok"))


@query(
    "cdc_to_scd2",
    oracle="""
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(lead(epoch_us(ts)) OVER w AS BIGINT) AS valid_to_us,
           lead(ts) OVER w IS NULL AS is_current,
           event_type AS state
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_to_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an SCD2 (type-2 slowly-changing-dimension) HISTORY from
    a change log: each user's events become versioned state rows with
    [valid_from, valid_to) effectivity — valid_to is the next
    change's timestamp, NULL marks the current row. The construction
    half of the SCD2 story (`scd2_range_lookup` in tier 8 is the
    point-in-time read half; operators/merge.scd2_apply is the
    incremental-merge API). Timestamps travel as integer
    microseconds; version numbers are the per-key change sequence
    with the (ts, event_id) total order.

    Scale: one window per key — Spark's WindowExec over a
    (user_id)-partitioned sort, map-side nothing but also nothing
    quadratic; at 100 TB the partition count follows the key space
    and AQE splits skewed users. This is THE lakehouse
    dimension-build pattern (CDC feed -> MERGE -> SCD2 history)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # catalog timestamps are NTZ; unix_micros needs TIMESTAMP — the
    # session is pinned to UTC so the cast is the identity epoch
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    nxt = F.lead(us).over(w)
    return e.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        us.alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
        F.col("event_type").alias("state"))
