#!/usr/bin/env python
"""Streaming state-growth evidence (round-8 verdict item #4).

SCALE.md argues the watermarked stream-stream join keeps bounded
state; this tool MEASURES it. It drives `interval_join_stream`
(click -> purchase attribution, 1 h horizon + 1 h watermark) over an
N-tranche event stream — each tranche one hour of event time, one
micro-batch (maxFilesPerTrigger=1) — and records the per-batch state
-store rows/bytes from StreamingQueryProgress. If watermark eviction
works, state rows PLATEAU at ~(horizon + watermark) of events
regardless of stream length; if it were broken, they would grow
linearly with every batch.

    python tools/state_growth.py [--tranches 40] [--out artifacts/...]

The committed artifact is the per-batch table plus the plateau
verdict; tests/test_watermark.py asserts the same plateau at a
smaller tranche count in CI.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def write_tranches(spark, root: str, n_tranches: int,
                   events_per_tranche: int = 2000,
                   n_users: int = 50) -> None:
    """One parquet file per event-time hour: tranche i holds
    ``events_per_tranche`` events with ts in [base + i h, base + i+1 h),
    alternating click/purchase over a fixed user population. Files are
    written in event-time order, so a maxFilesPerTrigger=1 stream
    advances the watermark one hour per micro-batch — the steady-state
    ingest shape."""
    from pyspark.sql import functions as F
    base = datetime.datetime(2024, 1, 1,
                             tzinfo=datetime.timezone.utc)
    step = max(1, 3600 // events_per_tranche)
    for i in range(n_tranches):
        t0 = int((base + datetime.timedelta(hours=i)).timestamp())
        df = (spark.range(events_per_tranche)
              .select(
                  (F.lit(i * events_per_tranche) + F.col("id"))
                  .alias("event_id"),
                  F.timestamp_seconds(
                      F.lit(t0) + F.col("id") * F.lit(step))
                  .alias("ts"),
                  (F.col("id") % n_users).alias("user_id"),
                  F.when(F.col("id") % 2 == 0, "click")
                  .otherwise("purchase").alias("event_type"),
                  (F.col("id") % 97).cast("double").alias("value"),
                  F.lit("{}").alias("props")))
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(root, f"tranche_{i:04d}"))


def run_interval_join(spark, root: str, n_tranches: int) -> list[dict]:
    """Stream the tranche dirs (one per trigger) through
    `interval_join_stream`, drain with availableNow, and return one
    record per micro-batch: {batch, input_rows, state_rows,
    state_bytes, rows_dropped_by_watermark}."""
    from etl_tool_rep_spark.streaming.stream import (drain,
                                                     interval_join_stream)

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(root, "tranche_*")))
    joined = interval_join_stream(stream, stream,
                                  horizon="1 hour", watermark="1 hour")
    out = tempfile.mkdtemp(prefix="state_growth_sink_")
    q = drain(joined.writeStream
              .format("parquet")
              .option("path", os.path.join(out, "data"))
              .option("checkpointLocation", os.path.join(out, "_ckpt"))
              .outputMode("append"), 600)
    recs = []
    for p in q.recentProgress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        op = ops[0]
        rec = {
            "batch": p["batchId"],
            "input_rows": p.get("numInputRows", 0),
            "state_rows": op.get("numRowsTotal"),
            "state_bytes": op.get("memoryUsedBytes"),
            "dropped_by_watermark":
                op.get("numRowsDroppedByWatermark", 0),
        }
        # RocksDB provider: memoryUsedBytes is NATIVE (off-heap)
        # block-cache + memtable usage; record the breakdown so the
        # artifact shows where state actually lives
        cm = op.get("customMetrics") or {}
        for k in ("rocksdbTotalMemoryUsage", "rocksdbSstFileSize",
                  "rocksdbPinnedBlocksMemoryUsage"):
            if k in cm:
                rec[k] = cm[k]
        recs.append(rec)
    return sorted(recs, key=lambda r: r["batch"])


def plateau_verdict(recs: list[dict]) -> dict:
    """Plateau check: split the batch series into thirds; eviction
    works when the last third's max state never exceeds the middle
    third's max by more than 25% (noise allowance) AND the final
    state is well under the total rows ingested (i.e. state does not
    retain the stream)."""
    n = len(recs)
    mid = [r["state_rows"] for r in recs[n // 3: 2 * n // 3]]
    last = [r["state_rows"] for r in recs[2 * n // 3:]]
    total_in = sum(r["input_rows"] for r in recs)
    peak_mid, peak_last = max(mid), max(last)
    return {
        "n_batches": n,
        "total_input_rows": total_in,
        "peak_state_mid_third": peak_mid,
        "peak_state_last_third": peak_last,
        "final_state_rows": recs[-1]["state_rows"],
        "plateau": peak_last <= peak_mid * 1.25,
        "state_well_below_input":
            recs[-1]["state_rows"] * 4 < total_in,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tranches", type=int, default=40)
    ap.add_argument("--out", default="artifacts/state_growth_r9.json")
    args = ap.parse_args()

    from etl_tool_rep_spark.session import get_spark
    spark = get_spark("state_growth")
    root = tempfile.mkdtemp(prefix="state_growth_src_")
    write_tranches(spark, root, args.tranches)
    recs = run_interval_join(spark, root, args.tranches)
    verdict = plateau_verdict(recs)
    provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "default")
    payload = {"config": {"tranches": args.tranches,
                          "horizon": "1 hour", "watermark": "1 hour",
                          "state_store_provider":
                              provider.rsplit(".", 1)[-1]},
               "batches": recs, "verdict": verdict}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(verdict))
    if not (verdict["plateau"] and verdict["state_well_below_input"]):
        sys.exit(1)


if __name__ == "__main__":
    main()
