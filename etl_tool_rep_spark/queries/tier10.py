"""Tier-10 queries: model-evaluation metrics and corpus-assembly ops —
AUC, calibration, sequence packing, dataset splits, equi-depth bins,
correlation matrix, market-basket lift, linear interpolation.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup); these extend the
training-data-pipeline surface per the BASELINE.json capability
mandate: a 100 TB corpus pipeline needs split assignment, packing
manifests, and classifier-quality readouts as first-class relational
queries, not notebook afterthoughts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rank import global_row_number
from ..session import pin
from .registry import query


# ---------------------------------------------------------------------------
# ROC AUC via the Mann-Whitney rank formula (per fold)
# ---------------------------------------------------------------------------

@query(
    "auc_metric",
    oracle="""
    WITH base AS (
      SELECT vec_id % 4 AS fold,
             CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
      FROM embeddings),
    ranked AS (
      SELECT fold, score, pos,
             ROW_NUMBER() OVER (PARTITION BY fold
                                ORDER BY score ASC, pos ASC) AS rn
      FROM base),
    mid AS (
      SELECT fold, pos,
             AVG(rn) OVER (PARTITION BY fold, score) AS midrank
      FROM ranked)
    SELECT fold,
           CAST(SUM(pos) AS BIGINT) AS npos,
           CAST(SUM(1 - pos) AS BIGINT) AS nneg,
           ROUND((SUM(CASE WHEN pos = 1 THEN midrank END)
                  - SUM(pos) * (SUM(pos) + 1.0) / 2)
                 / (SUM(pos) * CAST(SUM(1 - pos) AS DOUBLE)), 6) AS auc
    FROM mid GROUP BY fold
    """,
)
def auc_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of ``embedding[0]`` as a scorer for ``label >= 5``,
    one row per fold (``vec_id % 4``), via the Mann-Whitney rank
    identity AUC = (R+ - n+(n+ +1)/2) / (n+ n-), with mid-ranks for
    tied scores (AVG of row_number over the tie group is invariant
    to the arbitrary tie-break, so both engines agree exactly).

    This is the distributed-AUC pattern: no O(n^2) pair join — one
    sort-based rank per fold, then a 4-group aggregate. At 100 TB the
    per-fold sort is Spark's RangePartitioning sort (fully parallel),
    the only wide exchange in the plan.
    """
    e = load(spark, sf_dir, "embeddings")
    base = e.select(
        (F.col("vec_id") % 4).alias("fold"),
        F.element_at("embedding", 1).cast("double").alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("pos"))
    rn = F.row_number().over(
        Window.partitionBy("fold").orderBy(F.asc("score"), F.asc("pos")))
    mid = F.avg("rn").over(Window.partitionBy("fold", "score"))
    npos = F.sum("pos")
    nneg = F.sum(F.lit(1) - F.col("pos"))
    sumr = F.sum(F.when(F.col("pos") == 1, F.col("midrank")))
    return (base.withColumn("rn", rn).withColumn("midrank", mid)
            .groupBy("fold")
            .agg(npos.cast("bigint").alias("npos"),
                 nneg.cast("bigint").alias("nneg"),
                 F.round((sumr - npos * (npos + F.lit(1.0)) / 2)
                         / (npos * nneg.cast("double")), 6).alias("auc")))


# ---------------------------------------------------------------------------
# calibration / reliability bins for a probabilistic classifier
# ---------------------------------------------------------------------------

@query(
    "calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             1.0 / (1.0 + EXP(-(n_chars / 400.0 - 1.2))) AS p
      FROM documents),
    binned AS (
      SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS bin, y,
             CAST(p AS DECIMAL(20,10)) AS pd
      FROM scored)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(pd) / COUNT(*) AS DOUBLE), 6) AS mean_pred,
           ROUND(SUM(y) / CAST(COUNT(*) AS DOUBLE), 6) AS pos_rate,
           ROUND(ABS(CAST(SUM(pd) / COUNT(*) AS DOUBLE)
                     - SUM(y) / CAST(COUNT(*) AS DOUBLE)), 6) AS gap
    FROM binned GROUP BY bin
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: sigmoid(n_chars/400 - 1.2) as a
    predicted probability of ``lang = 'en'``, cut into 10 equal-width
    probability bins; per bin the mean prediction, the empirical
    positive rate, and the calibration gap |mean_pred - pos_rate|
    (the summand of ECE). Probability sums run in DECIMAL(20,10) so
    partial-aggregation order cannot move the hash.

    Scale: a single map-side-combinable 10-group aggregate over one
    scan — the canonical "metric over 100 TB of scored docs" shape.
    """
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (F.lit(1.0) / (F.lit(1.0)
         + F.exp(-(F.col("n_chars") / 400.0 - 1.2)))).alias("p"))
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        "y", F.col("p").cast("decimal(20,10)").alias("pd"))
    n = F.count(F.lit(1))
    mean_pred = (F.sum("pd") / n).cast("double")
    pos_rate = F.sum("y") / n.cast("double")
    return binned.groupBy("bin").agg(
        n.cast("bigint").alias("n"),
        F.round(mean_pred, 6).alias("mean_pred"),
        F.round(pos_rate, 6).alias("pos_rate"),
        F.round(F.abs(mean_pred - pos_rate), 6).alias("gap"))


# ---------------------------------------------------------------------------
# GPT-style concat-and-chunk sequence packing manifest
# ---------------------------------------------------------------------------

@query(
    "sequence_pack",
    oracle="""
    WITH toks AS (
      SELECT source, doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
      FROM documents),
    offs AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id ASC
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
      FROM toks)
    SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(start_off AS BIGINT) AS start_off,
           CAST(FLOOR(start_off / 512) AS BIGINT) AS first_chunk,
           CAST(FLOOR((start_off + GREATEST(n_tok, 1) - 1) / 512)
                AS BIGINT) AS last_chunk,
           CAST(FLOOR((start_off + GREATEST(n_tok, 1) - 1) / 512)
                - FLOOR(start_off / 512) + 1 AS BIGINT) AS n_chunks
    FROM offs
    """,
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing manifest (the GPT pretraining layout):
    within each source stream, documents are concatenated in doc_id
    order and cut into fixed 512-token context windows; each doc's row
    reports its global token offset and the first/last window it lands
    in. Token count = count of [a-z0-9]+ runs (whitespace-ish BPE
    proxy; real tokenizers slot into the same column).

    Scale: the running offset is a per-source prefix sum — one
    sort-within-partition per source shard, no global ordering needed.
    At 100 TB, sources are the natural write-partition, so packing
    parallelizes per source; the manifest (not the re-materialized
    chunks) is what downstream loaders consume.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source", "doc_id",
        F.size(F.regexp_extract_all(
            F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))).alias("n_tok"))
    w = (Window.partitionBy("source").orderBy(F.asc("doc_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offs = toks.withColumn(
        "start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    last_tok = F.col("start_off") + F.greatest(F.col("n_tok"), F.lit(1)) - 1
    first_chunk = F.floor(F.col("start_off") / 512)
    last_chunk = F.floor(last_tok / 512)
    return offs.select(
        "source", "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("start_off").cast("bigint").alias("start_off"),
        first_chunk.cast("bigint").alias("first_chunk"),
        last_chunk.cast("bigint").alias("last_chunk"),
        (last_chunk - first_chunk + 1).cast("bigint").alias("n_chunks"))


# ---------------------------------------------------------------------------
# deterministic hash-based train/val/test split
# ---------------------------------------------------------------------------

@query(
    "dataset_split",
    oracle="""
    WITH assign AS (
      SELECT lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 100 AS bucket
      FROM documents),
    named AS (
      SELECT lang,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM assign)
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang)
                                 AS DOUBLE), 6) AS lang_share
    FROM named GROUP BY split, lang
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by md5(doc_id)
    bucket — content-addressed, so re-running over a grown corpus
    never moves an old document between splits (the property random()
    splits lack, and the reason eval contamination sneaks in). Output:
    per (split, lang) counts and each split's share within its
    language.

    md5 (not xxhash64) so the oracle reproduces the bucket bit-for-bit
    in DuckDB; at 100 TB the assignment is a pure map (no shuffle) and
    the audit is one 2-level aggregate.
    """
    d = load(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 6), 16, 10).cast("bigint") % 100)
    named = d.select(
        "lang",
        F.when(bucket < 90, "train").when(bucket < 95, "val")
         .otherwise("test").alias("split"))
    cnt = F.count(F.lit(1))
    out = named.groupBy("split", "lang").agg(
        cnt.cast("bigint").alias("n_docs"))
    tot = F.sum("n_docs").over(Window.partitionBy("lang"))
    return out.select(
        "split", "lang", "n_docs",
        F.round(F.col("n_docs") / tot.cast("double"), 6)
         .alias("lang_share"))


# ---------------------------------------------------------------------------
# equi-depth (quantile) binning via NTILE
# ---------------------------------------------------------------------------

@query(
    "equidepth_bins",
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
               AS bin
      FROM orders)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(28,2)) AS total
    FROM t GROUP BY bin
    """,
)
def equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth deciles of order value, exactly reproducing
    NTILE(10) over the total order (price, orderkey) — every bin
    holds n/10 +-1 rows regardless of skew, unlike the fixed-width
    `histogram_bins`. Reports each decile's population, boundaries,
    and decimal-exact total.

    Scale path (round 7, was round 3): the global rank is the
    bucketed two-phase `operators.rank.global_row_number` — literal
    percentile boundaries give deterministic buckets (the old
    `spark_partition_id()` shape could disagree with its own offsets
    across re-evaluated range exchanges), row_number runs per bucket
    in parallel, earlier-bucket counts arrive via a broadcast
    triangular join; NTILE's bucket formula is then pure arithmetic:
    the first n%10 buckets get n/10+1 rows. Identical output to
    ntile(10) with no single-partition stage.
    """
    o = load(spark, sf_dir, "orders")
    t = o.select("o_totalprice", "o_orderkey")
    tot = t.agg(F.count(F.lit(1)).alias("_n"))
    r = (global_row_number(t, [F.asc("o_totalprice"),
                               F.asc("o_orderkey")],
                           lead="o_totalprice", out="_r")
         .crossJoin(F.broadcast(tot)))
    base = F.floor(F.col("_n") / 10)
    rem = F.col("_n") % 10
    head = rem * (base + 1)  # rows covered by the fat buckets
    bin_col = F.when(base == 0, F.col("_r")) \
        .when(F.col("_r") <= head,
              F.floor((F.col("_r") - 1) / (base + 1)) + 1) \
        .otherwise(rem + F.floor((F.col("_r") - head - 1) / base) + 1)
    t2 = r.select("o_totalprice", bin_col.cast("int").alias("bin"))
    return t2.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
         .cast("decimal(28,2)").alias("total"))


# ---------------------------------------------------------------------------
# pairwise Pearson correlation matrix (long form)
# ---------------------------------------------------------------------------

@query(
    "corr_matrix",
    oracle="""
    WITH c AS (
      SELECT corr(l_quantity, l_extendedprice) AS qty_price,
             corr(l_quantity, l_discount)      AS qty_disc,
             corr(l_quantity, l_tax)           AS qty_tax,
             corr(l_extendedprice, l_discount) AS price_disc,
             corr(l_extendedprice, l_tax)      AS price_tax,
             corr(l_discount, l_tax)           AS disc_tax
      FROM lineitem)
    SELECT x, y, ROUND(r, 6) AS r FROM (
      SELECT 'l_quantity' AS x, 'l_extendedprice' AS y, qty_price AS r FROM c
      UNION ALL SELECT 'l_quantity', 'l_discount', qty_disc FROM c
      UNION ALL SELECT 'l_quantity', 'l_tax', qty_tax FROM c
      UNION ALL SELECT 'l_extendedprice', 'l_discount', price_disc FROM c
      UNION ALL SELECT 'l_extendedprice', 'l_tax', price_tax FROM c
      UNION ALL SELECT 'l_discount', 'l_tax', disc_tax FROM c)
    """,
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations among the four lineitem measures,
    emitted long-form (x, y, r) — the upper triangle of the 4x4
    correlation matrix in one scan (six corr aggregates computed
    side-by-side, then stacked; never six scans).

    Scale: corr is a single-pass moment aggregate with map-side
    partials, so the whole matrix costs one read of the fact table;
    the stack is a 1-row transpose. Rounded at 6dp (precedent:
    `stats_funcs`) to absorb the 1-ulp partial-order drift of
    distributed summation.
    """
    li = load(spark, sf_dir, "lineitem")
    pairs = [("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
             ("l_quantity", "l_tax"), ("l_extendedprice", "l_discount"),
             ("l_extendedprice", "l_tax"), ("l_discount", "l_tax")]
    c = li.agg(*[F.corr(x, y).alias(f"r{i}")
                 for i, (x, y) in enumerate(pairs)])
    stack = ", ".join(f"'{x}', '{y}', r{i}" for i, (x, y) in enumerate(pairs))
    return (c.selectExpr(f"stack({len(pairs)}, {stack}) AS (x, y, r)")
            .select("x", "y", F.round("r", 6).alias("r")))


# ---------------------------------------------------------------------------
# market-basket pair co-occurrence with support and lift
# ---------------------------------------------------------------------------

# Pair-expansion basket cap, shared by the Spark plan and the oracle
# SQL below so the two can never drift (same pattern as tier38._TB_CAP).
_MB_CAP = 100

@query(
    "market_basket",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    part_cnt AS (
      SELECT l_partkey, COUNT(*) AS n_p FROM items GROUP BY l_partkey),
    bsz AS (
      SELECT l_orderkey, COUNT(*) AS bs FROM items GROUP BY l_orderkey),
    pairs AS (
      -- baskets over the fan-out cap are excluded from the PAIR
      -- expansion only (support/lift baselines stay full-population)
      -- mirroring the Spark side's max_basket_size
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      JOIN bsz s ON s.l_orderkey = a.l_orderkey AND s.bs <= {_MB_CAP}
      GROUP BY a.l_partkey, b.l_partkey)
    SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
           ROUND(n_ab / CAST(n.n AS DOUBLE), 6) AS support,
           ROUND(n_ab * CAST(n.n AS DOUBLE) / (ca.n_p * cb.n_p), 6)
             AS lift
    FROM pairs, n_orders n
    JOIN part_cnt ca ON ca.l_partkey = pa
    JOIN part_cnt cb ON cb.l_partkey = pb
    WHERE n_ab >= 2
    ORDER BY n_ab DESC, pa ASC, pb ASC LIMIT 100
    """,
)
def market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchased part pairs with support and lift: distinct
    (order, part) items self-joined on the order key with pa < pb
    (each unordered pair counted once), then scored against the
    independence baseline. The classic association-rule seed.

    Scale: baskets materialize ONCE as per-order part sets (a single
    map-side-combinable collect_set shuffle on the order key — also
    the distinct), pairs explode JVM-side from each set, and baskets
    above ``max_basket_size`` are excluded from the quadratic PAIR
    EXPANSION only — they still count toward n and per-part counts,
    so support/lift baselines keep the full-population semantics of
    the uncapped oracle (only pairs *within* an oversized basket go
    missing, and those are flagged by the cap, not silently shifted
    into every other pair's score). One pathological 10k-item basket
    would otherwise fan out 10^8 pairs on a single key — a skew bomb
    at 100 TB. The cap is ENCODED IN THE ORACLE (its pairs CTE joins
    a basket-size filter), so capped semantics are certified at any
    corpus, not just where the cap is a no-op; the fixture's baskets
    hold at most 17 distinct parts at every scale (SCALE.md records
    the measured distribution), so fixture hashes are unchanged and
    the cap never fires here. On a real corpus tune the cap or
    add a `heavy_hitters` frequent-part pre-pass.
    """
    max_basket_size = _MB_CAP
    li = load(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.collect_set("l_partkey").alias("_s")))
    # three consumers (n, part_cnt, pairs) — materialize the basket
    # shuffle once instead of recomputing it per branch (was 3x the
    # collect_set aggregation and the dominant cost of the query)
    baskets = pin(baskets, eager=False)
    items = baskets.select(F.explode("_s").alias("l_partkey"))
    n = baskets.agg(F.count(F.lit(1)).alias("n"))
    part_cnt = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_p"))
    pairs_expr = F.expr("""
        flatten(transform(_s, x ->
            filter(transform(_s, y ->
                       if(x < y, struct(x AS pa, y AS pb), null)),
                   p -> p IS NOT NULL)))""")
    pairs = (baskets.filter(F.size("_s") <= max_basket_size)
             .select(F.explode(pairs_expr).alias("_p"))
             .groupBy(F.col("_p.pa").alias("pa"),
                      F.col("_p.pb").alias("pb"))
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .filter(F.col("n_ab") >= 2))
    ca = part_cnt.select(F.col("l_partkey").alias("pa"),
                         F.col("n_p").alias("n_pa"))
    cb = part_cnt.select(F.col("l_partkey").alias("pb"),
                         F.col("n_p").alias("n_pb"))
    return (pairs.crossJoin(F.broadcast(n))
            .join(F.broadcast(ca), "pa").join(F.broadcast(cb), "pb")
            .select("pa", "pb", F.col("n_ab").cast("bigint").alias("n_ab"),
                    F.round(F.col("n_ab") / F.col("n").cast("double"), 6)
                     .alias("support"),
                    F.round(F.col("n_ab") * F.col("n").cast("double")
                            / (F.col("n_pa") * F.col("n_pb")), 6)
                     .alias("lift"))
            .orderBy(F.desc("n_ab"), F.asc("pa"), F.asc("pb"))
            .limit(100))


# ---------------------------------------------------------------------------
# linear interpolation of gappy per-key daily series
# ---------------------------------------------------------------------------

@query(
    "linear_interpolate",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio,
             CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2),
    spans AS (
      SELECT prio, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY prio),
    cal AS (
      SELECT s.prio, CAST(UNNEST(generate_series(s.lo, s.hi,
                                 INTERVAL 1 DAY)) AS DATE) AS day
      FROM spans s),
    obs AS (
      SELECT c.prio, c.day,
             CASE WHEN dayofmonth(c.day) % 3 = 1 THEN d.rev END AS v
      FROM cal c LEFT JOIN daily d
        ON d.prio = c.prio AND d.day = c.day),
    ctx AS (
      SELECT prio, day, v,
             LAST_VALUE(v IGNORE NULLS) OVER w_prev AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_prev AS pd,
             FIRST_VALUE(v IGNORE NULLS) OVER w_next AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_next AS nd
      FROM obs
      WINDOW
        w_prev AS (PARTITION BY prio ORDER BY day ASC
                   ROWS UNBOUNDED PRECEDING),
        w_next AS (PARTITION BY prio ORDER BY day ASC
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT prio, day,
           CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE CAST(ROUND(
               (pv * (date_diff('day', pd, nd)
                      - date_diff('day', pd, day))
                + nv * date_diff('day', pd, day))
               / CAST(date_diff('day', pd, nd) AS DOUBLE), 0) AS BIGINT)
           END / 100.0 AS est
    FROM ctx
    """,
)
def linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a gappy daily series: per priority
    class, daily revenue is 'observed' only on days-of-month =1 mod 3
    (a deterministic sensor-dropout fixture); every other calendar day
    is estimated by the straight line between its nearest observed
    neighbors (endpoints extend flat). Complements `time_series_fill`
    (LOCF) with the interpolating variant every telemetry/feature
    pipeline eventually needs.

    Scale: one window pass per direction with IGNORE-NULLS last/first
    — no self-join on nearest-date, which is the O(n^2) trap. Windows
    partition by series key, so 100 TB of telemetry parallelizes by
    key; the calendar scaffold is sequence()+explode, never a driver
    loop.
    """
    o = load(spark, sf_dir, "orders")
    daily = (o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
              .cast("bigint").alias("rev")))
    cal = (daily.groupBy("prio")
           .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
           .select("prio", F.explode(F.sequence("lo", "hi")).alias("day")))
    obs = (cal.join(daily, ["prio", "day"], "left")
           .select("prio", "day",
                   F.when(F.dayofmonth("day") % 3 == 1, F.col("rev"))
                    .alias("v")))
    w_prev = (Window.partitionBy("prio").orderBy(F.asc("day"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_next = (Window.partitionBy("prio").orderBy(F.asc("day"))
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    day_obs = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = obs.select(
        "prio", "day", "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(day_obs, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(day_obs, ignorenulls=True).over(w_next).alias("nd"))
    d1 = F.datediff("day", "pd")
    d2 = F.datediff("nd", "pd")
    # integer-cents interpolation: the numerator is an exact BIGINT, the
    # single double division is correctly rounded from identical bits in
    # both engines, and .5 ties are exactly representable — so ROUND
    # agrees bit-for-bit (a plain double round(x, 4) does not: Spark
    # rounds the shortest decimal repr, DuckDB the binary value).
    interp = F.round(
        (F.col("pv") * (d2 - d1) + F.col("nv") * d1) / d2.cast("double"),
        0).cast("bigint")
    est_cents = (F.when(F.col("v").isNotNull(), F.col("v"))
                 .when(F.col("pv").isNull(), F.col("nv"))
                 .when(F.col("nv").isNull(), F.col("pv"))
                 .otherwise(interp))
    return ctx.select(
        "prio", "day",
        F.when(F.col("v").isNotNull(), 1).otherwise(0).alias("observed"),
        (est_cents / F.lit(100.0)).alias("est"))


@query(
    "mrr_metric",
    oracle="""
    WITH ranked AS (
      SELECT source, lang,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC)
               AS rnk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(CASE WHEN lang = 'en' THEN rnk END) AS first_rel_rank,
           COALESCE(ROUND(1.0 / MIN(CASE WHEN lang = 'en' THEN rnk END),
                          6), 0.0) AS rr
    FROM ranked GROUP BY source
    """,
)
def mrr_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Reciprocal Rank — the retrieval-eval metric for "did the
    first relevant hit come early". Each source acts as one query:
    its documents are ranked by a deterministic retrieval score
    (n_chars desc, doc_id tiebreak) and relevance is lang = 'en';
    rr = 1/rank of the first relevant document (0 when none).
    Averaging rr over sources gives MRR; per-source rows are returned
    so the metric composes (slice by source, re-aggregate upstream).

    Scale: one window per source partition + one aggregate — a
    ranking-quality sweep over any corpus costs one shuffle."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"),
                                             F.asc("doc_id"))
    ranked = d.select("source", "lang",
                      F.row_number().over(w).alias("rnk"))
    rel_rank = F.min(F.when(F.col("lang") == "en", F.col("rnk")))
    return (ranked.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 rel_rank.alias("first_rel_rank"),
                 F.coalesce(F.round(1.0 / rel_rank, 6), F.lit(0.0))
                  .alias("rr")))


@query(
    "ndcg_metric",
    oracle="""
    WITH graded AS (
      SELECT source,
             CASE WHEN lang = 'en' THEN 2
                  WHEN lang IN ('de', 'fr') THEN 1
                  ELSE 0 END AS rel,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC)
               AS rnk
      FROM documents
    ),
    ideal AS (
      SELECT source, rel,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY rel DESC, rnk ASC) AS irnk
      FROM graded
    ),
    dcg AS (
      SELECT source,
             SUM(CASE WHEN rnk <= 10 THEN
                   CAST(ROUND((POW(2, rel) - 1) / LOG2(rnk + 1), 8)
                        AS DECIMAL(18,8)) ELSE 0 END) AS dcg
      FROM graded GROUP BY source
    ),
    idcg AS (
      SELECT source,
             SUM(CASE WHEN irnk <= 10 THEN
                   CAST(ROUND((POW(2, rel) - 1) / LOG2(irnk + 1), 8)
                        AS DECIMAL(18,8)) ELSE 0 END) AS idcg
      FROM ideal GROUP BY source
    )
    SELECT d.source,
           CAST(d.dcg AS DOUBLE) AS dcg10,
           CAST(i.idcg AS DOUBLE) AS idcg10,
           CASE WHEN i.idcg = 0 THEN 0.0
                ELSE ROUND(CAST(d.dcg AS DOUBLE)
                           / CAST(i.idcg AS DOUBLE), 6) END AS ndcg10
    FROM dcg d JOIN idcg i USING (source)
    """,
)
def ndcg_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 — graded ranking quality. Same deterministic retrieval
    ranking as mrr_metric; graded relevance en=2, de/fr=1, else 0.
    DCG@10 = sum (2^rel - 1)/log2(rank+1) over the top 10; IDCG is
    the same sum over the ideal (relevance-sorted) ordering; nDCG
    their ratio. Per-term values are rounded to 8 dp and summed as
    DECIMAL so the sum is order-invariant — bit-identical across
    engines and partitionings (the repo's standard float-agg
    contract).

    Scale: two windows over the same source partitioning + one
    aggregate; nothing global."""
    d = load(spark, sf_dir, "documents")
    rel = (F.when(F.col("lang") == "en", 2)
           .when(F.col("lang").isin("de", "fr"), 1).otherwise(0))
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"),
                                             F.asc("doc_id"))
    graded = d.select("source", rel.alias("rel"),
                      F.row_number().over(w).alias("rnk"))
    wi = Window.partitionBy("source").orderBy(F.desc("rel"),
                                              F.asc("rnk"))
    ideal = graded.select("source", "rel",
                          F.row_number().over(wi).alias("irnk"))

    def gain(rank_col):
        return F.round((F.pow(F.lit(2.0), F.col("rel")) - 1)
                       / F.log2(rank_col + 1), 8).cast("decimal(18,8)")

    dcg = (graded.groupBy("source")
           .agg(F.sum(F.when(F.col("rnk") <= 10, gain(F.col("rnk")))
                      .otherwise(F.lit(0).cast("decimal(18,8)")))
                .alias("_dcg")))
    idcg = (ideal.groupBy("source")
            .agg(F.sum(F.when(F.col("irnk") <= 10, gain(F.col("irnk")))
                       .otherwise(F.lit(0).cast("decimal(18,8)")))
                 .alias("_idcg")))
    return (dcg.join(idcg, "source")
            .select("source",
                    F.col("_dcg").cast("double").alias("dcg10"),
                    F.col("_idcg").cast("double").alias("idcg10"),
                    F.when(F.col("_idcg") == 0, F.lit(0.0))
                     .otherwise(F.round(F.col("_dcg").cast("double")
                                        / F.col("_idcg").cast("double"),
                                        6)).alias("ndcg10")))
