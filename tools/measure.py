#!/usr/bin/env python
"""Time registered query keys the way bench.py does, with per-run
stage metrics from the Spark event log.

    python tools/measure.py [KEY...] [--sf DIR]... [--iters N]
        [--out FILE.jsonl] [--plans DIR]

KEY defaults to ``bench.HEADLINE``; ``--sf`` may repeat and defaults
to /root/testdata/sf0.1. One Spark session runs, per fixture dir, an
untimed ``lineitem.parquet`` count, then one discarded pass, then N
timed passes interleaved round-robin over (pass, dir, key), so slow
drift on the host hits every key and dir alike. Each run is a noop
write timed with ``perf_counter`` under the job group
``key@dir#pass``.

Each timed run is one JSONL record: its ``group``, ``wall_s`` split
into ``build_s`` (the query call: DataFrame building, analysis and any
eager jobs inside it) and ``exec_s`` (the noop write), as perfbench's
``QueryOp`` splits ``queries.build`` and ``queries.exec``, the JVM
GC-time delta, ``load1`` sampled just before the run and heap used
after it; from the event log (parsed with ``perfbench/eventlog.py``
after the session stops): jobs, stages, tasks, ``max_task_share`` (the
sum over stages of each stage's longest task over the sum of all task
time, as perfbench defines it) and ``worst_stage``, the stage of at
least 4 tasks with the highest max/mean task time among stages whose
mean task time is at least 10 ms (task times are whole milliseconds,
so shorter stages read as skewed from timer granularity alone). A run
that starts a streaming query also records the state-row, state-byte
and RocksDB memory peaks its progress events reported, per query;
Spark runs each stream's micro-batches under a job group named by the
stream's run id, and those groups are folded into the run's counts.

stdout gets one JSON line per key with each dir's median and runs and,
with more than one dir, the scaling exponent log(t_b/t_a)/log(ratio)
per adjacent dir pair, where ratio is the pair's lineitem row-count
ratio (1.0 is linear; well above it is super-linear growth). A last
line has bench.py's load1/steal occupancy markers.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql.streaming import StreamingQueryListener

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench import eventlog  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
# 10x the 1 ms granularity of event-log task times
WORST_STAGE_MIN_MEAN_MS = 10


class StatePeaks(StreamingQueryListener):
    """Per-query state peaks of the streams seen since ``reset``."""

    def __init__(self):
        self.reset()

    def reset(self):
        self.run_ids: list[str] = []
        self.peaks: dict[str, dict] = {}

    def onQueryStarted(self, event):  # noqa: N802
        # called before DataStreamWriter.start() returns; the run id is
        # the job group of the stream's micro-batch jobs
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        for op in p.get("stateOperators", []):
            cur = self.peaks.setdefault(p.get("name") or p["id"], {
                "state_rows_peak": 0, "state_bytes_peak": 0,
                "rocksdb_mem_peak": 0})
            cur["state_rows_peak"] = max(cur["state_rows_peak"],
                                         op.get("numRowsTotal", 0))
            cur["state_bytes_peak"] = max(cur["state_bytes_peak"],
                                          op.get("memoryUsedBytes", 0))
            rocks = sum(v for k, v in op.get("customMetrics", {}).items()
                        if "memoryusage" in k.lower()
                        or "pinnedblocks" in k.lower())
            cur["rocksdb_mem_peak"] = max(cur["rocksdb_mem_peak"], rocks)

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _quiesce(spark, timeout_s: float = 60.0) -> None:
    """Progress events reach a Python listener on the listener-bus
    thread, after the job that produced them returns: wait for the
    streams to stop, drain the bus, then give the py4j callback thread
    a beat, so no late event lands in the next run's record."""
    deadline = time.monotonic() + timeout_s
    while spark.streams.active and time.monotonic() < deadline:
        time.sleep(0.5)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    time.sleep(1.0)


def _stage_metrics(g: eventlog.GroupStats) -> dict:
    stages = {sid: s for sid, s in g.stages.items() if s.tasks}
    run_ms = sum(s.run_ms for s in stages.values())
    max_ms = sum(s.max_run_ms for s in stages.values())
    worst = None
    for sid, s in stages.items():
        mean = s.run_ms / s.tasks
        if s.tasks >= 4 and mean >= WORST_STAGE_MIN_MEAN_MS and (
                worst is None or s.max_run_ms / mean > worst["max_mean"]):
            worst = {"stage": sid, "tasks": s.tasks,
                     "max_ms": s.max_run_ms, "mean_ms": round(mean, 1),
                     "max_mean": round(s.max_run_ms / mean, 2)}
    return {"jobs": len(g.job_spans), "stages": len(stages),
            "tasks": sum(s.tasks for s in stages.values()),
            "max_task_share": round(max_ms / run_ms, 3) if run_ms else 0.0,
            "worst_stage": worst}


def _session(keys, dirs, iters, plans, log_dir):
    """Run every pass in one session; return (records, lineitem rows
    per dir, occupancy markers). Stops the session, which closes the
    event log."""
    from etl_tool_rep_spark.queries import QUERIES
    from etl_tool_rep_spark.session import get_spark

    spark = get_spark("measure", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false"})
    try:
        sc = spark.sparkContext
        mf = spark._jvm.java.lang.management.ManagementFactory
        gc_beans = mf.getGarbageCollectorMXBeans()
        heap = mf.getMemoryMXBean()
        peaks = StatePeaks()
        spark.streams.addListener(peaks)

        def gc_ms() -> int:
            return sum(b.getCollectionTime() for b in gc_beans)

        rows = {d: spark.read.parquet(
            os.path.join(d, "lineitem.parquet")).count() for d in dirs}
        occ0 = bench._occupancy()
        records = []
        for p in range(iters + 1):          # pass 0 is the warm-up
            for d in dirs:
                for key in keys:
                    group = f"{key}@{d}#{p}"
                    sc.setJobGroup(group, group)
                    peaks.reset()
                    load1 = os.getloadavg()[0]
                    gc0 = gc_ms()
                    t0 = time.perf_counter()
                    df = QUERIES[key](spark, d)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    gc = gc_ms() - gc0
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                    rec = {"key": key, "dir": d, "pass": p, "group": group,
                           "wall_s": round(t2 - t0, 3),
                           "build_s": round(t1 - t0, 3),
                           "exec_s": round(t2 - t1, 3), "gc_ms": gc,
                           "load1": round(load1, 2)}
                    if peaks.run_ids:
                        _quiesce(spark)
                        rec["state_peaks"] = peaks.peaks
                        rec["stream_runs"] = peaks.run_ids
                    rec["heap_used_mb"] = round(
                        heap.getHeapMemoryUsage().getUsed() / 2**20)
                    if p == 0 and plans:
                        label = os.path.basename(os.path.normpath(d))
                        with open(os.path.join(
                                plans, f"{key}@{label}.txt"), "w") as fh:
                            fh.write(sc._jvm.PythonSQLUtils.explainString(
                                df._jdf.queryExecution(), "formatted"))
                    if p:
                        records.append(rec)
        occ1 = bench._occupancy()
        occ = {"load1": [occ0["load1"], occ1["load1"]],
               "steal_d": occ1.get("steal", 0) - occ0.get("steal", 0),
               "cores": sc.defaultParallelism, "ncpu": os.cpu_count()}
    finally:
        spark.stop()
    return records, rows, occ


def _summary(keys, dirs, records, rows) -> list[dict]:
    out = []
    for key in keys:
        runs = {d: [r["wall_s"] for r in records
                    if r["key"] == key and r["dir"] == d] for d in dirs}
        med = {d: statistics.median(v) for d, v in runs.items()}
        line = {"key": key, "median_s": med, "runs": runs}
        if len(dirs) > 1:
            line["exponents"] = []
            for a, b in zip(dirs, dirs[1:]):
                ratio = rows[b] / rows[a]
                e = None
                if ratio != 1:
                    e = round(math.log(max(med[b], 1e-3) / max(med[a], 1e-3))
                              / math.log(ratio), 2)
                line["exponents"].append(
                    {"dirs": [a, b], "ratio": ratio, "exponent": e})
        out.append(line)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0].strip())
    ap.add_argument("keys", nargs="*", metavar="KEY")
    ap.add_argument("--sf", action="append", metavar="DIR",
                    help=f"fixture dir (repeatable; default {SF_DIR})")
    ap.add_argument("--iters", type=int, default=3,
                    help="timed passes after the warm-up (default 3)")
    ap.add_argument("--out", help="JSONL file, one record per run")
    ap.add_argument("--plans",
                    help="dir for each (key, dir)'s formatted plan")
    args = ap.parse_args(argv)

    from etl_tool_rep_spark.queries import QUERIES
    keys = args.keys or bench.HEADLINE
    unknown = [k for k in keys if k not in QUERIES]
    if unknown:
        ap.error("unknown key: " + ", ".join(unknown))
    if args.iters < 1:
        ap.error("--iters must be at least 1")
    dirs = args.sf or [SF_DIR]
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    log_dir = tempfile.mkdtemp(prefix="measure-eventlog-")
    try:
        records, rows, occ = _session(keys, dirs, args.iters,
                                      args.plans, log_dir)
        groups = eventlog.parse(eventlog.read_events(
            eventlog.find_log(log_dir)))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for rec in records:
        # fold in the run's streams: _stage_metrics reads only the
        # job spans and stages
        g = eventlog.GroupStats()
        for name in [rec["group"], *rec.pop("stream_runs", [])]:
            if name in groups:
                g.job_spans += groups[name].job_spans
                g.stages.update(groups[name].stages)
        rec.update(_stage_metrics(g))
    if args.out:
        with open(args.out, "w") as fh:
            for rec in records:
                fh.write(json.dumps(rec) + "\n")
    for line in _summary(keys, dirs, records, rows):
        print(json.dumps(line), flush=True)
    print(json.dumps(occ), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
