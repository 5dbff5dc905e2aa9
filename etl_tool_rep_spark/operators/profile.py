"""Table profiling — per-column data-quality statistics in ONE pass.

The ETL-tool capability the reference exposes as UI previews
(main.py:321,433) generalized: one aggregate computes count / nulls /
distinct / min / max per column simultaneously (a single scan + one
reduce, no per-column jobs). At 100 TB, profile on a deterministic
hash sample (operators/text.deterministic_sample) instead of the full
table."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

_NUMERIC = (T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
            T.DecimalType, T.ShortType)


def profile_table(df: DataFrame,
                  approx_distinct: bool = True) -> DataFrame:
    """One-row-per-column profile: (column, n_rows, n_nulls,
    n_distinct, min_str, max_str, mean). All columns in one
    aggregation; result unpivoted driver-side (column count is tiny).
    ``approx_distinct`` uses HLL (the scale path); exact otherwise."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in df.columns:
        dt = df.schema[c].dataType
        aggs.append(F.count(F.when(F.col(c).isNull(), 1))
                    .alias(f"_nulls_{c}"))
        if approx_distinct:
            aggs.append(F.approx_count_distinct(c).alias(f"_dist_{c}"))
        if isinstance(dt, (T.ArrayType, T.MapType, T.StructType,
                           T.BinaryType)):
            aggs.append(F.lit(None).cast("string").alias(f"_min_{c}"))
            aggs.append(F.lit(None).cast("string").alias(f"_max_{c}"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_max_{c}"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.round(F.avg(F.col(c).cast("double")), 6)
                        .alias(f"_mean_{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"_mean_{c}"))

    row = df.agg(*aggs).collect()[0]

    if approx_distinct:
        dist = {c: row[f"_dist_{c}"] for c in df.columns}
    else:
        # Exact path. N countDistinct aggregates in ONE agg trigger
        # Catalyst's Expand rewrite: each input row is replicated
        # N+1 times into the shuffle (measured 3x slower at sf0.1
        # with 6 columns). Instead, stack to (column, value) long
        # form — same row multiplication but a plain explode feeding
        # a map-side-combinable two-level distinct count, no Expand,
        # no null-padded wide rows. Complex/binary columns go
        # through to_json (faithful: escaping prevents value
        # collisions that a bare string cast would allow). Floating
        # columns normalize -0.0 -> 0.0 first: Spark's groupBy /
        # countDistinct normalize floating zeros (they compare equal)
        # but "-0.0" and "0.0" stringify differently, so the string
        # form would over-count by one vs native countDistinct.
        def as_str(c):
            dt = df.schema[c].dataType
            if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
                return F.to_json(F.struct(F.col(c)))
            if isinstance(dt, T.BinaryType):
                return F.base64(F.col(c))
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                zero = F.lit(0.0).cast(dt)
                return (F.when(F.col(c) == zero, zero)
                        .otherwise(F.col(c)).cast("string"))
            return F.col(c).cast("string")

        stacked = df.select(F.explode(F.array(*[
            F.struct(F.lit(c).alias("_c"), as_str(c).alias("_v"))
            for c in df.columns])).alias("_s")) \
            .select("_s._c", "_s._v").filter(F.col("_v").isNotNull())
        dist_rows = (stacked.groupBy("_c", "_v").agg(F.lit(1))
                     .groupBy("_c")
                     .agg(F.count(F.lit(1)).alias("_d")).collect())
        dist = {r["_c"]: r["_d"] for r in dist_rows}
        for c in df.columns:  # all-null columns never reach the agg
            dist.setdefault(c, 0)

    out = [(c, row["_n"], row[f"_nulls_{c}"], dist[c],
            row[f"_min_{c}"], row[f"_max_{c}"], row[f"_mean_{c}"])
           for c in df.columns]
    return local_frame(
        df.sparkSession, out,
        "column string, n_rows long, n_nulls long, n_distinct long, "
        "min_str string, max_str string, mean double")
