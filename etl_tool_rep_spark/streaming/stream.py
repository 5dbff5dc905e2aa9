"""Structured Streaming wiring for the events surface.

Batch Tier-2 queries (queries/tier2.py) and these streaming forms
share the same window expressions — the point of Spark's unified
model. Here we add the streaming-only pieces: watermarks for late
data, file-source discovery, and availableNow (catch-up) triggers.

At scale: the file source is a stand-in for Kafka
(``spark.readStream.format("kafka")`` — same downstream plan);
watermark delay bounds state size, which is what keeps a 1000-executor
stateful job stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_event_stream(spark: SparkSession, path: str,
                      fmt: str = "json",
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based event stream with an explicit schema (streaming
    sources must never infer schemas — a schema change mid-stream is a
    pipeline bug, not a convenience)."""
    reader = spark.readStream.format(fmt).schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_agg_stream(events: DataFrame,
                        window: str = "1 hour",
                        slide: str | None = None,
                        watermark: str = "10 minutes") -> DataFrame:
    """Tumbling/sliding windowed counts+sums under a watermark.

    The watermark bounds how late an event may arrive and still update
    its window; state for windows older than (max event time -
    watermark) is dropped — the knob that makes unbounded streams run
    in bounded memory."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    # decimal(18,4) sum cast back to double: the EXACT aggregation the
    # batch twin (queries/tier2.tumbling_window_agg) uses, so
    # stream-vs-batch parity is bit-identical, not approximate
    return (events
            .withWatermark("ts", watermark)
            .groupBy(win, "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                  .cast("double").alias("total_value"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "event_type", "n_events", "total_value"))


def sessionized_stream(events: DataFrame,
                       gap: str = "30 minutes",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming session windows (state merges as events arrive).
    Aggregation matches the batch twin (queries/tier2.
    session_window_agg) exactly — same decimal-sum contract."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                  .cast("double").alias("total_value"))
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events", "total_value"))


def deduped_stream(events: DataFrame,
                   keys: list[str] | None = None,
                   watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps each key's state only until
    the watermark passes it, so at-least-once sources (Kafka redelivery,
    file re-lists) collapse to effectively-once without the unbounded
    key set a plain dropDuplicates would accumulate. The streaming
    counterpart of the batch exact_dedup operator."""
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys or ["event_id"]))


def interval_join_stream(left: DataFrame, right: DataFrame,
                         left_type: str = "click",
                         right_type: str = "purchase",
                         horizon: str = "1 hour",
                         watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: for each `left_type` event, the
    `right_type` events by the same user within [ts, ts + horizon].
    The attribution-window primitive (click → purchase conversion).

    Both sides carry watermarks and the join condition bounds the
    right side's event time relative to the left's — the two things
    Spark REQUIRES before it will age out join state: a left row can
    be dropped once the right watermark passes left.ts + horizon, a
    right row once the left watermark passes right.ts. Without the
    time bound, stream-stream join state grows forever; with it,
    state is (events within horizon + watermark) per side regardless
    of stream length.

    Lag is emitted in integer microseconds (unix_micros) — exact
    cross-engine arithmetic, no truncation ambiguity."""
    lf = (left.filter(F.col("event_type") == left_type)
              .select(F.col("event_id").alias("click_id"),
                      "user_id", F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", watermark))
    rt = (right.filter(F.col("event_type") == right_type)
               .select(F.col("event_id").alias("purchase_id"),
                       F.col("user_id").alias("p_user"),
                       F.col("ts").alias("p_ts"))
               .withWatermark("p_ts", watermark))
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return (lf.join(rt, cond)
              .select("click_id", "purchase_id", "user_id",
                      (F.unix_micros(F.col("p_ts"))
                       - F.unix_micros(F.col("c_ts")))
                      .cast("bigint").alias("lag_us")))


def asof_enrich_stream(probe: DataFrame, build: DataFrame,
                       probe_key: str, build_key: str,
                       probe_ts: str, build_ts: str,
                       payload: list[str],
                       horizon: str = "30 days",
                       watermark: str = "1 hour") -> DataFrame:
    """Stream-stream as-of enrich (round-7 verdict item #8): each
    probe row gains every build row for the same key with
    ``build_ts`` in ``[probe_ts - horizon, probe_ts]``; the consumer
    reduces to the LATEST build row per probe event (argmax on
    ``struct(build_ts, *payload)`` — associative/commutative, so
    micro-batch slicing cannot change the answer).

    Why a bounded lookback instead of the batch union-marker pattern:
    streaming cannot run ``last(..., ignoreNulls)`` over an unbounded
    per-key window, and Spark only AGES OUT stream-stream join state
    when both sides carry watermarks and the join condition bounds
    each side's event time — which ``horizon`` provides. A probe row
    is droppable once the build watermark passes ``probe_ts``, a
    build row once the probe watermark passes ``build_ts + horizon``
    — state is (horizon + watermark) of rows per side regardless of
    stream length: the same state story as ``interval_join_stream``,
    pointed backward. Quotes older than the horizon are treated as
    stale and yield no enrich — at 100 TB an UNBOUNDED as-of over a
    stream is not implementable without unbounded state; the horizon
    IS the production contract."""
    p = probe.withWatermark(probe_ts, watermark)
    b = (build.select(F.col(build_key).alias("_b_key"),
                      F.col(build_ts).alias("_b_ts"), *payload)
              .withWatermark("_b_ts", watermark))
    cond = ((F.col(probe_key) == F.col("_b_key"))
            & (F.col("_b_ts") <= F.col(probe_ts))
            & (F.col("_b_ts")
               >= F.col(probe_ts) - F.expr(f"INTERVAL {horizon}")))
    return p.join(b, cond).drop("_b_key")


def drain(writer: DataStreamWriter, timeout_s: int) -> StreamingQuery:
    """Start ``writer`` with Trigger.AvailableNow, wait until it has
    processed all currently-available input, and return the finished
    query (its ``recentProgress`` stays readable).

    A failed query raises its ``StreamingQueryException`` (PySpark's
    ``awaitTermination(timeout)`` re-raises it); a query still running
    after ``timeout_s`` raises ``TimeoutError``. Either way the query
    is stopped first, so no caller sees a partial answer or leaves a
    query active. Stopping waits for the running micro-batch for at
    most ``spark.sql.streaming.stopTimeout`` (a session default); a
    batch that outlives it also raises ``TimeoutError``, and its
    handler keeps running in the background until it returns."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish within "
                f"{timeout_s}s — partial results discarded")
    finally:
        try:
            q.stop()
        except Exception as exc:
            # py4j's Py4JJavaError carries the Java exception
            java = getattr(exc, "java_exception", None)
            if (java is None or java.getClass().getName()
                    != "java.util.concurrent.TimeoutException"):
                raise
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not stop within "
                "spark.sql.streaming.stopTimeout — its micro-batch is "
                "still running") from exc
    return q


def run_available_now(stream_df: DataFrame, query_name: str,
                      timeout_s: int = 120,
                      output_mode: str = "complete") -> DataFrame:
    """Drain a streaming plan into the memory sink and return the
    result as a batch DataFrame. Used by tests and the tier-16
    driver-gated streaming queries to assert stream==batch
    equivalence. ``output_mode``: "complete" for aggregations,
    "append" for row-level operators (dedup, maps) that emit as they
    process, "update" for stateful operators that re-emit a key's
    running state each micro-batch."""
    drain(stream_df.writeStream.format("memory").queryName(query_name)
          .outputMode(output_mode), timeout_s)
    return stream_df.sparkSession.table(query_name)
