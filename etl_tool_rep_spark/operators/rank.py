"""Scale-safe exact ranking and prefix sums — the two-phase recipe.

Round-7 verdict item #1: a `Window.orderBy(...)` with no (or a
low-cardinality) `partitionBy` funnels the whole input through ONE
task ("No Partition Defined for Window" in the Spark log) — correct
at sf0.1, a single-partition bottleneck at 100x. These utilities
compute the SAME exact values with an all-parallel plan:

phase 0  bucket boundaries: one `approx_percentile` aggregate over
         the LEADING order key, collected once to the driver
         (npart-1 values — metadata-sized) and baked into the plan
         as literals;
phase 1  every row gets a deterministic bucket id from those literal
         boundaries (count of boundaries before the key — a pure
         Column expression), buckets follow the requested order;
phase 2  partition-local `row_number`/running sums inside each
         (bucket, group) via an ordinary hash-partitioned window —
         all buckets in parallel;
phase 3  per-(bucket, group) totals (nbuckets x ngroups rows)
         become EXCLUSIVE offsets via a broadcast triangular join
         (y.bucket < x.bucket within the group);
phase 4  global value = local value + offset.

Why not `repartitionByRange` + `spark_partition_id()` (the shape
`ks_test`/`vocab_growth` originally used)? That plan evaluates the
range exchange up to three times (window branch, offsets branch,
join probe), and RangePartitioner draws a fresh SAMPLE per
materialization — nothing guarantees the three exchanges pick the
same boundaries, so a row's pid in one branch can disagree with the
counts from another (observed: ~74% wrong ranks on a 2k-row frame
under AQE). Literal boundaries make the bucket id a pure function of
the DATA, identical in every branch by construction. Skewed leading
keys cost balance (one fat bucket), never correctness.

Determinism of results: rank = #rows before me in the total order —
boundary-invariant whenever the ORDER BY is total (callers pass a
unique tiebreaker) or the consumer only reads order-key-level fields
(ties share everything read).

Reference: none — the reference (`main.py`, a pandas app) has no
window engine; this file exists for the 100 TB mandate (distributed
order statistics: the TeraSort ranking recipe).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import session

__all__ = ["grouped_row_number", "global_row_number",
           "grouped_prefix_sum", "lead_bucket"]

_BID = "_tp_bid"


def _as_cols(exprs: Sequence) -> list[Column]:
    return [F.col(e) if isinstance(e, str) else e for e in exprs]


def lead_bucket(df: DataFrame, lead, ascending: bool = True,
                nulls_last: bool = False,
                npart: int | None = None) -> Column:
    """A deterministic, order-consistent bucket id for the numeric
    leading sort key ``lead``: bucket boundaries are approximate
    percentiles collected ONCE and inlined as literals, so every
    re-evaluation of the expression agrees. Bucket order follows the
    requested sort direction (bucket b's rows all precede bucket
    b+1's in the total order); NULL keys get their own first/last
    bucket per ``nulls_last``."""
    lead = F.col(lead) if isinstance(lead, str) else lead
    n = npart or df.sparkSession.sparkContext.defaultParallelism
    pcts = [i / n for i in range(1, n)]
    row = df.agg(F.percentile_approx(
        lead, F.lit(pcts), F.lit(10000)).alias("b")).first()
    bounds = [b for b in (row["b"] or []) if b is not None]
    if ascending:
        body = (F.size(F.filter(F.lit(bounds), lambda b: b < lead))
                if bounds else F.lit(0))
    else:
        body = (F.size(F.filter(F.lit(bounds), lambda b: b > lead))
                if bounds else F.lit(0))
    null_bid = F.lit(len(bounds) + 1 if nulls_last else -1)
    return F.when(lead.isNull(), null_bid).otherwise(body)


def _offsets(t: DataFrame, gcols: list[str],
             aggs: dict[str, tuple[Column, str]]) -> DataFrame:
    """Exclusive per-(bucket, group) offsets for each ``out_name ->
    (bucket_total, "sum"|"max")`` in ``aggs``: offset(b) = fn over
    buckets < b in the same group (NULL when none — callers decide
    the identity). The totals frame is nbuckets x ngroups rows —
    metadata-sized, broadcast on both sides of the triangular join."""
    pt = t.groupBy(_BID, *gcols).agg(
        *[a.alias(name) for name, (a, _) in aggs.items()])
    x, y = pt.alias("x"), pt.alias("y")
    cond = F.col(f"y.{_BID}") < F.col(f"x.{_BID}")
    for g in gcols:
        cond = cond & F.col(f"x.{g}").eqNullSafe(F.col(f"y.{g}"))
    fns = {"sum": F.sum, "max": F.max, "min": F.min}
    return (x.join(F.broadcast(y), cond, "left")
             .groupBy(F.col(f"x.{_BID}").alias(_BID),
                      *[F.col(f"x.{g}").alias(g) for g in gcols])
             .agg(*[fns[fn](F.col(f"y.{name}"))
                    .alias(f"_off_{name}")
                    for name, (_, fn) in aggs.items()]))


def _join_offsets(t: DataFrame, offs: DataFrame,
                  gcols: list[str]) -> DataFrame:
    """Attach the broadcast offsets frame on (bucket id, group cols)
    with NULL-SAFE equality on the group columns — `row_number() over
    (partition by g)` keeps a NULL partition, so a plain-equality
    USING join here would silently drop NULL-group rows (and disagree
    with `_offsets`, which already matches groups with eqNullSafe)."""
    renames = {g: f"_tp_og_{i}" for i, g in enumerate(gcols)}
    offs = offs.withColumnsRenamed(renames)
    cond = t[_BID] == offs[_BID]
    for g, og in renames.items():
        cond = cond & t[g].eqNullSafe(offs[og])
    return (t.join(F.broadcast(offs), cond)
             .drop(offs[_BID]).drop(*renames.values()))


def grouped_row_number(df: DataFrame, group_by: Sequence[str],
                       order_by: Sequence, lead,
                       out: str = "rk", ascending: bool = True,
                       nulls_last: bool = False,
                       npart: int | None = None) -> DataFrame:
    """Exact `row_number() over (partition by group_by order by
    order_by)` without any single-task (or hot-group) sort.

    ``order_by``: the full sort expressions (pass a total order —
    unique tiebreaker — for a deterministic result). ``lead``: the
    numeric leading order key (must agree with ``order_by[0]`` in
    column, ``ascending`` and ``nulls_last`` — it only steers
    bucketing, the within-bucket sort uses ``order_by`` verbatim).
    ``group_by``: string column names, may be empty for a global
    rank. Adds BIGINT column ``out``; preserves every input column."""
    gcols = list(group_by)
    t = df.withColumn(_BID, lead_bucket(df, lead, ascending,
                                        nulls_last, npart))
    wloc = (Window.partitionBy(_BID, *gcols)
            .orderBy(*_as_cols(order_by)))
    t = t.withColumn("_tp_lrn", F.row_number().over(wloc))
    offs = _offsets(t, gcols, {"n": (F.count(F.lit(1)), "sum")})
    return (_join_offsets(t, offs, gcols)
             .withColumn(out, (F.col("_tp_lrn")
                               + F.coalesce(F.col("_off_n"), F.lit(0))
                               ).cast("bigint"))
             .drop(_BID, "_tp_lrn", "_off_n"))


def global_row_number(df: DataFrame, order_by: Sequence, lead,
                      out: str = "rk", ascending: bool = True,
                      nulls_last: bool = False,
                      npart: int | None = None) -> DataFrame:
    """`row_number() over (order by ...)` — the global-sort shape —
    as a bucketed two-phase parallel rank."""
    return grouped_row_number(df, [], order_by, lead, out=out,
                              ascending=ascending,
                              nulls_last=nulls_last, npart=npart)


def grouped_prefix_sum(df: DataFrame, group_by: Sequence[str],
                       order_by: Sequence, lead,
                       sums: dict[str, str | tuple[str, str]],
                       ascending: bool = True,
                       nulls_last: bool = False,
                       npart: int | None = None,
                       inclusive: bool = True,
                       pin: bool = False) -> DataFrame:
    """Running totals `fn(col) over (partition by group_by order by
    order_by rows unbounded preceding .. current|-1)` for each
    ``out_name -> in_col`` (or ``out_name -> (in_col,
    "sum"|"max"|"min")``) in ``sums``, bucketed two-phase. ``inclusive=False`` gives the
    strictly-preceding frame (NULL on each group's first row — the
    running-max-of-predecessors shape). The order should be total per
    group (or the input pre-aggregated to distinct order keys, the
    `ks_test` shape) for deterministic per-row values."""
    gcols = list(group_by)
    specs = {name: (v if isinstance(v, tuple) else (v, "sum"))
             for name, v in sums.items()}
    fns = {"sum": F.sum, "max": F.max, "min": F.min}
    t = df.withColumn(_BID, lead_bucket(df, lead, ascending,
                                        nulls_last, npart))
    hi = Window.currentRow if inclusive else -1
    wloc = (Window.partitionBy(_BID, *gcols)
            .orderBy(*_as_cols(order_by))
            .rowsBetween(Window.unboundedPreceding, hi))
    for name, (col, fn) in specs.items():
        t = t.withColumn(f"_tp_l_{name}", fns[fn](col).over(wloc))
    # ``t`` feeds two consumers (the offsets aggregate and the final
    # join), so its subtree — including the caller's upstream census
    # — is planned twice; ``pin=True`` truncates it once for callers
    # whose upstream is expensive relative to t's (bucketed,
    # census-sized) materialization (guide §2.4 / §3.3)
    if pin:
        t = session.pin(t, eager=False)
    # offsets aggregate each EARLIER bucket's full-bucket total with
    # the same fn (sum of sums / max of maxes)
    offs = _offsets(t, gcols, {name: (fns[fn](col), fn)
                               for name, (col, fn) in specs.items()})
    t = _join_offsets(t, offs, gcols)
    for name, (_, fn) in specs.items():
        loc, off = F.col(f"_tp_l_{name}"), F.col(f"_off_{name}")
        if fn == "max":
            # greatest skips NULLs; all-NULL (true first row) stays NULL
            combined = F.greatest(loc, off)
        elif fn == "min":
            combined = F.least(loc, off)
        else:
            combined = (F.when(loc.isNull() & off.isNull(), F.lit(None))
                        .otherwise(F.coalesce(loc, F.lit(0))
                                   + F.coalesce(off, F.lit(0))))
        t = (t.withColumn(name, combined)
              .drop(f"_tp_l_{name}", f"_off_{name}"))
    return t.drop(_BID)
