"""Custom stateful operator: state must accumulate ACROSS micro-
batches (forced via maxFilesPerTrigger=1) and the final per-user
profile must equal the batch aggregate."""

import pytest
from pyspark.sql import functions as F

from etl_tool_rep_spark.catalog import load
from etl_tool_rep_spark.streaming import read_event_stream, run_available_now
from etl_tool_rep_spark.streaming.stateful import user_profile_cents_stream


@pytest.fixture(scope="module")
def event_files(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stateful_events"))
    # several files => several micro-batches => state reuse is tested
    (load(spark, sf_dir, "events")
     .repartition(4)
     .write.mode("overwrite").json(out))
    return out


def test_state_accumulates_across_batches(spark, sf_dir, event_files):
    stream = read_event_stream(spark, event_files,
                               max_files_per_trigger=1)
    result = run_available_now(user_profile_cents_stream(stream),
                               "t_profile", output_mode="update")

    # update mode appends one row per (batch, user); counts strictly
    # increase, so the row with the most events is the final state
    final = {}
    for r in result.collect():
        if r["user_id"] not in final or r["n_events"] > final[r["user_id"]][0]:
            final[r["user_id"]] = (r["n_events"], r["total_cents"])
    n_batches = result.groupBy("user_id").count().agg(F.max("count"))
    assert n_batches.collect()[0][0] > 1, "expected several micro-batches"

    batch = (load(spark, sf_dir, "events")
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.floor(F.coalesce(F.col("value"), F.lit(0.0))
                                * 100 + 0.5).cast("bigint"))
                   .alias("cents")))
    expect = {r["user_id"]: (r["n"], r["cents"]) for r in batch.collect()}

    assert set(final) == set(expect)
    mismatch = {u for u in expect if final[u] != expect[u]}
    assert not mismatch, f"{len(mismatch)} users mismatch: " \
                         f"{sorted(mismatch)[:5]}"
