"""Structured Streaming parity tests: the streaming plans must produce
EXACTLY the batch answers over a static file set (availableNow trigger
+ memory sink). This is the streaming oracle — the batch queries are
themselves DuckDB-verified, so frame-equality here chains the oracle
through to the streaming forms."""

import threading
import time

import pytest
from pyspark.sql import functions as F

from etl_tool_rep_spark.catalog import load
from etl_tool_rep_spark.queries import QUERIES
from etl_tool_rep_spark.streaming import (deduped_stream, drain,
                                          read_event_stream,
                                          run_available_now,
                                          sessionized_stream,
                                          windowed_agg_stream)


def _frames_equal(a, b):
    """Exact multiset equality of two DataFrames (same columns)."""
    assert sorted(a.columns) == sorted(b.columns)
    cols = sorted(a.columns)
    ra = sorted(map(tuple, a.select(cols).collect()))
    rb = sorted(map(tuple, b.select(cols).collect()))
    assert ra == rb
    assert len(ra) > 0


@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    """Dump sf0.001 events to a parquet dir to act as the stream
    source. Parquet, not json: json serializes timestamps at
    millisecond precision, and session-window boundaries are raw
    event times — a truncated microsecond breaks exact parity."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    (load(spark, sf_dir, "events")
     .coalesce(2)
     .write.mode("overwrite").parquet(out))
    return out


def test_stream_matches_batch_tumbling(spark, sf_dir, event_stream_dir):
    """Full-frame parity with the REGISTERED tumbling_window_agg —
    every column (including the decimal-summed total_value), every
    row, under a watermark."""
    stream = read_event_stream(spark, event_stream_dir, fmt="parquet")
    assert stream.isStreaming
    got = run_available_now(
        windowed_agg_stream(stream, "1 hour", watermark="10 minutes"),
        "t_tumbling")
    batch = QUERIES["tumbling_window_agg"](spark, sf_dir)
    _frames_equal(got, batch)


def test_stream_matches_batch_session(spark, sf_dir, event_stream_dir):
    """Full-frame parity with the registered session_window_agg (8h
    gap) — streaming session-window state merging must reproduce the
    batch gaps-and-islands answer exactly."""
    stream = read_event_stream(spark, event_stream_dir, fmt="parquet")
    got = run_available_now(
        sessionized_stream(stream, gap="8 hours",
                           watermark="10 minutes"),
        "t_session")
    batch = QUERIES["session_window_agg"](spark, sf_dir)
    _frames_equal(got, batch)


def test_stream_matches_batch_sliding(spark, sf_dir, event_stream_dir):
    """Full-frame parity with the registered sliding_window_agg (1h
    windows, 15min slide — each event fans out to 4 windows). The
    streaming plan shares the exact window + decimal-sum expressions,
    so parity is bit-identical."""
    stream = read_event_stream(spark, event_stream_dir, fmt="parquet")
    got = run_available_now(
        windowed_agg_stream(stream, "1 hour", slide="15 minutes",
                            watermark="10 minutes"),
        "t_sliding")
    batch = QUERIES["sliding_window_agg"](spark, sf_dir)
    _frames_equal(got, batch)


def test_stream_dedup_matches_batch(spark, sf_dir, tmp_path_factory):
    """Streaming exact-dedup parity on the real fixture: the events
    table written TWICE (full at-least-once redelivery) streamed
    through dropDuplicatesWithinWatermark must reproduce the batch
    events frame exactly — every column, every row, once."""
    out = str(tmp_path_factory.mktemp("events_doubled"))
    ev = load(spark, sf_dir, "events")
    ev.unionAll(ev).coalesce(2).write.mode("overwrite").parquet(out)
    stream = deduped_stream(
        read_event_stream(spark, out, fmt="parquet"),
        keys=["event_id"], watermark="10 minutes")
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))
    q = (stream.writeStream.format("memory").queryName("t_pdedup")
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish"
    _frames_equal(spark.table("t_pdedup"), ev)


def test_watermark_is_attached(spark, event_stream_dir):
    stream = windowed_agg_stream(
        read_event_stream(spark, event_stream_dir, fmt="parquet"), "1 hour",
        watermark="15 minutes")
    # eventTime watermark must appear in the analyzed plan
    assert "watermark" in stream._jdf.queryExecution().analyzed() \
        .toString().lower()


def test_drain_timeout_raises_and_stops(spark, event_stream_dir, tmp_path):
    """A micro-batch still running at ``timeout_s`` must not be
    returned as a partial answer: ``drain`` raises ``TimeoutError``
    and the query is stopped, not left active."""
    def slow(batch_df, batch_id):
        time.sleep(8)

    stream = read_event_stream(spark, event_stream_dir, fmt="parquet")
    writer = (stream.writeStream.foreachBatch(slow)
              .option("checkpointLocation", str(tmp_path / "ckpt")))
    with pytest.raises(TimeoutError, match="did not finish within 2s"):
        drain(writer, timeout_s=2)
    assert spark.streams.active == []


def test_drain_raises_when_stop_times_out(spark, event_stream_dir,
                                          tmp_path):
    """A micro-batch that outlives ``timeout_s`` AND the stop timeout
    must not hang ``drain``: the stop's Java ``TimeoutException``
    surfaces as ``TimeoutError`` while the handler is still running."""
    returned = threading.Event()

    def stuck(batch_df, batch_id):
        time.sleep(10)
        returned.set()

    key = "spark.sql.streaming.stopTimeout"
    old = spark.conf.get(key)
    # read when the query starts, so set it before drain starts one
    spark.conf.set(key, "1s")
    try:
        stream = read_event_stream(spark, event_stream_dir, fmt="parquet")
        writer = (stream.writeStream.foreachBatch(stuck)
                  .option("checkpointLocation", str(tmp_path / "ckpt")))
        with pytest.raises(TimeoutError, match="did not stop within"):
            drain(writer, timeout_s=2)
        assert not returned.is_set()
    finally:
        spark.conf.set(key, old)
        # let the abandoned micro-batch end before the next test
        assert returned.wait(60)
        deadline = time.monotonic() + 30
        while spark.streams.active and time.monotonic() < deadline:
            time.sleep(0.2)
    assert spark.streams.active == []
