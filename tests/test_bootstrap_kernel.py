"""bootstrap_ci's r14 mapInArrow Poisson kernel must be BIT-identical
to the r13 explode/CASE expression form: every (event_type, replicate)
weighted sum and weight count equal on the fixture, so the replicate
means (and hence the CI percentiles) cannot drift."""

from __future__ import annotations

import os
import sys

import duckdb
from pyspark.sql import functions as F

from etl_tool_rep_spark.catalog import load
from etl_tool_rep_spark.queries.tier11 import (_BOOT_OUT, _N_BOOT,
                                               _poisson_partials)


def _explode_reference(spark, sf_dir):
    """The r13 implementation at the (type, b, swl, n) grain: 100x
    explode + JVM LCG/CASE, exact long sums."""
    e = load(spark, sf_dir, "events")
    reps = (e.select("event_type", "event_id",
                     (F.col("value").cast("decimal(18,6)") * 1000000)
                     .cast("long").alias("xl"))
            .withColumn("b", F.explode(F.sequence(
                F.lit(0), F.lit(_N_BOOT - 1)))))
    u = ((((F.col("event_id") % 2147483647) * 1103515245
           + F.col("b") * 12345)
          % 2147483647 * 1103515245 + 12345)
         % 2147483647 % 1000000)
    w = (F.when(u < 367879, 0).when(u < 735759, 1).when(u < 919699, 2)
         .when(u < 981012, 3).when(u < 996340, 4).when(u < 999406, 5)
         .otherwise(6))
    return (reps.withColumn("w", w)
            .groupBy("event_type", "b")
            .agg(F.sum(F.col("w").cast("long") * F.col("xl"))
                 .alias("swl"),
                 F.sum("w").cast("long").alias("n")))


def test_kernel_partials_match_explode_reference(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    narrow = e.select(
        "event_type", "event_id",
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long").alias("xl"))
    got = {tuple(r) for r in
           (narrow.mapInArrow(_poisson_partials, schema=_BOOT_OUT)
            .groupBy("event_type", F.col("b").cast("int").alias("b"))
            .agg(F.sum("swl_p").cast("long").alias("swl"),
                 F.sum("n_p").cast("long").alias("n"))).collect()}
    want = {tuple(r) for r in _explode_reference(spark, sf_dir)
            .collect()}
    assert len(want) == 5 * _N_BOOT
    assert got == want


def test_bootstrap_ci_output_matches_reference_form(spark, sf_dir):
    """End-to-end: the registered query's CI rows equal the CI
    computed from the reference explode pipeline bit-for-bit."""
    from etl_tool_rep_spark.queries import QUERIES

    got = {tuple(r) for r in
           QUERIES["bootstrap_ci"](spark, sf_dir).collect()}
    ref = _explode_reference(spark, sf_dir)
    means = (ref.filter(F.col("n") > 0)
             .select("event_type",
                     ((F.col("swl").cast("decimal(38,0)")
                       * F.expr("CAST(0.000001 AS DECIMAL(7,6))"))
                      .cast("double") / F.col("n")).alias("m")))
    want = {tuple(r) for r in
            (means.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_reps"),
                  F.round(F.percentile("m", F.lit(0.025)), 6)
                  .alias("ci_lo"),
                  F.round(F.percentile("m", F.lit(0.975)), 6)
                  .alias("ci_hi"))).collect()}
    assert got == want


def test_bootstrap_ci_null_values_match_oracle(spark, sf_dir, tmp_path):
    """A NULL ``value`` weighs in each replicate's SUM(w) but adds
    nothing to SUM(w*x), as in the DuckDB oracle; before, the kernel
    turned it into NaN and then into int64 garbage (CI ~ -4e10)."""
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check_oracle import duck_connection, normalize_rows

    from etl_tool_rep_spark.queries import ORACLES, QUERIES

    src = os.path.join(sf_dir, "events.parquet")
    out = os.path.join(str(tmp_path), "events.parquet")
    duckdb.sql(
        "COPY (SELECT * REPLACE (CASE WHEN event_id % 50 = 0 THEN NULL"
        f" ELSE value END AS value) FROM read_parquet('{src}'))"
        f" TO '{out}' (FORMAT PARQUET)")
    con = duck_connection(str(tmp_path))
    assert con.sql("SELECT count(*) - count(value) FROM events"
                   ).fetchone()[0] > 0
    df = QUERIES["bootstrap_ci"](spark, str(tmp_path))
    got = normalize_rows(df.columns, [tuple(r) for r in df.collect()])
    rel = con.sql(ORACLES["bootstrap_ci"])
    want = normalize_rows(rel.columns, rel.fetchall())
    assert got[1] and got == want
