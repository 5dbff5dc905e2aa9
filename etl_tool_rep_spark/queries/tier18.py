"""Tier-18 queries (round 4): iterative graph traversal behind the
SQL gate, and time-series/rank primitives.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these close the last obvious
surface gaps:

* BFS shortest-hop distances — the first ITERATIVE operator with an
  exact SQL oracle (a recursive CTE in DuckDB vs bounded Bellman-Ford
  relaxation in Spark) — until now every fixpoint operator
  (pagerank, connected components, k-means) was rows-only;
* time-weighted average — the telemetry/finance aggregate over
  irregular samples (plain AVG over-weights bursts);
* OHLC bars — open/high/low/close candle compression of an event
  stream (the standard first reduction of any tick/metric feed);
* ntile deciles — equal-frequency bucketing with the remainder
  convention both engines share.

Determinism: BFS distances are integers from a fixed hop cap;
OHLC open/close are selected by total (ts, event_id) order; the TWA
keeps value x duration products in DECIMAL with integer second
durations; ntile orders carry doc_id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.graph import co_supplier_edges
from ..session import hold, local_frame, pin
from . import shared_sql
from .registry import query

_HOPS = 4


@query(
    "bfs_distances",
    oracle=f"""
    WITH RECURSIVE {shared_sql.CO_SUPPLIER_EDGES_CTES},
    walk(id, d) AS (
      SELECT (SELECT MIN(l_suppkey) FROM lineitem), 0
      UNION
      SELECT e.b, w.d + 1
      FROM walk w JOIN edges e ON e.a = w.id
      WHERE w.d < {_HOPS})
    SELECT CAST(id AS BIGINT) AS id,
           CAST(MIN(d) AS INTEGER) AS dist
    FROM walk GROUP BY id
    """,
)
def bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop distance (<= {hops} hops) from the lowest supplier
    id over the co-supplier graph, exact-matched against a DuckDB
    RECURSIVE CTE — the proof that the engine's iterative-loop
    pattern (the one pagerank/connected-components use) reproduces
    declarative recursion bit-for-bit, not just "plausibly".

    Spark side: FRONTIER BFS — round k expands only the vertices
    first settled at round k-1 (edges ⋈ frontier → distinct →
    anti-join settled), so a saturated frontier makes later rounds
    near-free; each round's lineage is truncated (the iterative
    discipline of operators/graph.py). Equivalence: frontier level k
    IS the set of vertices at true hop distance k, and the recursive
    CTE's UNION dedup caps its row universe at vertices x hops, so
    both sides enumerate exactly the reachable set with minimal hop
    counts. (The Bellman-Ford all-vertex relaxation form joins the
    FULL edge set every round — 4 full-edge shuffles of it vs ~1.5
    here; on the dense local fixture wall time is job-overhead bound
    and similar either way, but the frontier form's shuffle volume is
    what survives a sparse/high-diameter graph at cluster scale.)

    Scale: each round shuffles (frontier x avg-degree) rows keyed by
    vertex; the hop cap bounds worst-case work on high-diameter
    graphs. No driver probes — a fixed {hops}-round loop whose empty
    late rounds cost one empty-exchange job each.
    """
    li = load(spark, sf_dir, "lineitem")
    e = pin(co_supplier_edges(li))
    src = li.agg(F.min("l_suppkey")).first()[0]
    settled = local_frame(spark, [(src, 0)], "id long, dist int")
    frontier = settled
    for k in range(1, _HOPS + 1):
        new = hold(e.join(frontier.select(F.col("id").alias("a")), "a")
                    .select(F.col("b").alias("id")).distinct()
                    .join(settled, "id", "left_anti")
                    .select("id", F.lit(k).cast("int").alias("dist")))
        # settled = union of per-round held frontiers: its lineage is
        # already flat, no extra materialization needed
        settled = settled.unionByName(new)
        frontier = new
    return settled.select(F.col("id").cast("bigint").alias("id"),
                          F.col("dist").cast("int").alias("dist"))


@query(
    "time_weighted_avg",
    oracle="""
    WITH o AS (
      SELECT event_type, ts, value,
             LEAD(ts) OVER (PARTITION BY event_type
                            ORDER BY ts ASC, event_id ASC) AS nxt
      FROM events),
    seg AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,6))
               * (epoch_us(nxt) - epoch_us(ts)) AS wv,
             epoch_us(nxt) - epoch_us(ts) AS dur
      FROM o WHERE nxt IS NOT NULL)
    SELECT event_type,
           CAST(SUM(dur) AS BIGINT) AS total_usec,
           ROUND(CAST(SUM(wv) AS DOUBLE) / SUM(dur), 6) AS twa
    FROM seg GROUP BY event_type HAVING SUM(dur) > 0
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event segment: each sample
    holds its value until the next sample, so the mean integrates
    value x duration instead of counting rows — the correct
    aggregate over irregular telemetry (plain AVG over-weights
    bursts). Classic TWAP shape.

    Exactness: durations are integer epoch MICROSECONDS
    (`unix_micros` / `epoch_us` — whole-second truncation would
    disagree between engines on sub-second timestamps), value x
    duration stays in DECIMAL, one final double division rounded to
    6 dp. Scale: one window shuffle keyed by segment (each partition
    sorts its own segment), then a map-side-combinable aggregate.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    o = e.select("event_type", "ts", "value",
                 F.lead("ts").over(w).alias("nxt"))
    # catalog timestamps are NTZ; unix_micros needs TIMESTAMP — the
    # session is pinned to UTC so the cast is the identity epoch
    dur = (F.unix_micros(F.col("nxt").cast("timestamp"))
           - F.unix_micros(F.col("ts").cast("timestamp")))
    seg = (o.filter(F.col("nxt").isNotNull())
            .select("event_type",
                    (F.col("value").cast("decimal(18,6)")
                     * dur).alias("wv"),
                    dur.alias("dur")))
    return (seg.groupBy("event_type")
            .agg(F.sum("dur").cast("bigint").alias("total_usec"),
                 F.round(F.sum("wv").cast("double") / F.sum("dur"), 6)
                  .alias("twa"))
            .filter(F.col("total_usec") > 0))


@query(
    "ohlc_bars",
    oracle="""
    WITH t AS (
      SELECT event_type,
             date_trunc('hour', ts) AS bar,
             value, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                             date_trunc('hour', ts)
                                ORDER BY ts ASC, event_id ASC) AS rf,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                             date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM events)
    SELECT event_type, bar,
           ROUND(MIN(CASE WHEN rf = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MIN(CASE WHEN rl = 1 THEN value END), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM t GROUP BY event_type, bar
    """,
)
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candle bars per event segment — the standard first
    compression of a tick/metric feed (open/close by total
    (ts, event_id) order, so simultaneous ticks resolve identically
    in any engine).

    Scale: open/close come from ONE min/max over a (ts, event_id,
    value) struct — Spark struct ordering compares fields
    lexicographically, giving argmin/argmax semantics inside a plain
    hash aggregate: no window pass, no per-bar sort, fully map-side
    combinable. (The oracle states the same thing with row_number
    because DuckDB rounds struct fields differently; the VALUES are
    engine-identical.)
    """
    e = load(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    first_s = F.min(F.struct("ts", "event_id", "value"))
    last_s = F.max(F.struct("ts", "event_id", "value"))
    return (e.groupBy("event_type", bar.alias("bar"))
            .agg(F.round(first_s["value"], 6).alias("open"),
                 F.round(F.max("value"), 6).alias("high"),
                 F.round(F.min("value"), 6).alias("low"),
                 F.round(last_s["value"], 6).alias("close"),
                 F.count(F.lit(1)).cast("bigint").alias("n_ticks")))


@query(
    "ntile_buckets",
    oracle="""
    WITH t AS (
      SELECT lang, n_chars,
             NTILE(10) OVER (PARTITION BY lang
                             ORDER BY n_chars ASC, doc_id ASC) AS decile
      FROM documents)
    SELECT lang, CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM t GROUP BY lang, decile
    """,
)
def ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency deciles of document length per language with
    per-bucket ranges — the quantile-bucketing primitive behind
    stratified curriculum mixes. NTILE's remainder convention (first
    buckets get the extra rows) is identical in Spark and DuckDB;
    the (n_chars, doc_id) total order pins ties.

    Scale: one window shuffle per language partition plus a tiny
    census aggregate. At corpus scale swap NTILE for approx-quantile
    bin edges (equidepth_bins) to avoid the per-group sort.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc())
    t = d.select("lang", "n_chars", F.ntile(10).over(w).alias("decile"))
    return (t.groupBy("lang", "decile")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.min("n_chars").cast("bigint").alias("min_chars"),
                 F.max("n_chars").cast("bigint").alias("max_chars"))
            .select("lang", F.col("decile").cast("int").alias("decile"),
                    "n_docs", "min_chars", "max_chars"))
