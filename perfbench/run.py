#!/usr/bin/env python3
"""Benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload iterative --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. Every input is generated from ``--seed``
into ``.perfbench/`` (cached per seed); Spark's scratch, warehouse and
event log stay there too. Steps:

1. setup — import the program, ``session.get_spark`` on
   ``local[<nproc>]`` with the repository's session defaults (but a
   fixed driver heap, see DRIVER_MEM), one scan;
2. an untimed first pass that checks every op's output;
3. WARMUP_PASSES untimed passes (see there);
4. passes back to back for ``--seconds``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` instead runs
an untraced and a traced (event log, one job group per layer call)
window of ``--seconds / 2`` each, the traced one in a fresh Spark
context of the same JVM, and prints the per-layer metrics plus the
tracing overhead. See
``README.md`` for every metric. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 0 once that line is printed, even if ops failed;
anything that stops the run before then exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Driver heap, fixed and pre-touched at JVM start (inside setup_s).
# Under the session's 16g default G1 grew the heap anywhere from ~2.5
# to ~6 GB from run to run on a 15 GB host, so peak RSS spread 0.3-0.7
# between runs; a 4 GB cap with -Xms still left 0.2 on iterative, which
# touches less of the heap. Pre-touched, RSS varies only with off-heap
# and Python memory. The cap goes through the session's own knob.
DRIVER_MEM = "4g"

# Untimed passes between the check pass and the timed window. Pass
# times keep falling for several passes after the cold one while the
# JIT compiles, and the first warm pass varies most between runs (on a
# 6 s pass: 5.6-8.9 s, against 5.4-6.6 s three passes later). One pass
# keeps it out of the window and leaves the run budget to the window.
# A count, not seconds, so every run times the same stretch of the
# warm-up curve.
WARMUP_PASSES = 1

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s",
             "ok_frac": "ratio", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "session.get_spark_s": "s", "sources.load_s": "s",
    "pipeline.compile_s": "s", "sinks.write_s": "s",
    "sinks.files_written": "count", "sinks.out_bytes_per_in_byte": "ratio",
    "queries.build_s": "s", "queries.exec_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_s": "s", "exec.task_run_s": "s", "exec.jvm_cpu_s": "s",
    "exec.non_jvm_share": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.max_task_share": "ratio",
    "exec.gc_s": "s", "exec.spill_bytes": "bytes",
    "bench.op_self_s": "s", "trace.overhead_ratio": "ratio",
}
# span name -> per-layer time metric
SPAN_METRICS = {"sources.load": "sources.load_s",
                "pipeline.compile": "pipeline.compile_s",
                "sinks.write": "sinks.write_s",
                "queries.build": "queries.build_s",
                "queries.exec": "queries.exec_s"}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def prepare_environment() -> None:
    """Point every scratch path of Spark and its Python workers into
    ``.perfbench``; must run before the program is imported (session
    defaults read the environment at import)."""
    if not os.path.isdir(os.path.join(ROOT, "etl_tool_rep_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail(f"no program under {ROOT}: run from a full checkout")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, os.path.join(ROOT, "tools")]
    sys.path[:0] = paths
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def occupancy() -> dict:
    """Load average and cumulative steal ticks, sampled around the
    timed window so a noisy run is classifiable from its artifact."""
    occ = {"load1": round(os.getloadavg()[0], 2)}
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        occ["steal"] = int(parts[8]) if len(parts) > 8 else 0
    except (OSError, ValueError, IndexError):
        occ["steal"] = 0
    return occ


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    def __init__(self, inputs: dict):
        self.inputs = inputs
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.proc = None

    # -- session -------------------------------------------------------
    def start(self, name: str, event_dir: str | None = None) -> float:
        from etl_tool_rep_spark.session import get_spark
        tmp = os.path.join(WORK, "tmp")
        conf = {"spark.local.dir": tmp,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"}
        if event_dir:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(name, master=f"local[{nproc()}]",
                               extra_conf=conf)
        dt = time.perf_counter() - t0
        if self.proc is None:
            self.proc = self.spark.sparkContext._gateway.proc
        return dt

    def restart(self, name: str, event_dir: str | None = None) -> None:
        self.spark.stop()
        self.start(name, event_dir)

    def shutdown(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers it forked) to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        if self.proc is not None:
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                self.proc.kill()
                self.proc.wait()

    def jvm_pid(self) -> int:
        return self.proc.pid

    # -- passes --------------------------------------------------------
    def ctx(self):
        from workloads import Ctx
        etl = os.path.join(self.inputs["dir"], "etl")
        with open(os.path.join(etl, "rules.json")) as fh:
            rules = fh.read()
        return Ctx(self.spark, os.path.join(self.inputs["dir"], "tables"),
                   etl, os.path.join(WORK, "out", f"{os.getpid()}"), rules)

    def run_op(self, op, ctx, tracer, pass_no: int, state: dict):
        """Run one op; returns its span, or None if it raised."""
        self.attempted += 1
        try:
            with tracer.op(op.name, pass_no) as span:
                op.run(ctx, tracer, span, state)
            return span
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            self.failures.append(f"{op.name}: {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
            return None

    def check_pass(self, ops, workload: str) -> None:
        """Untimed first pass: every op's output is compared with its
        reference. It also warms the JVM before timing starts."""
        from check import Oracle, check_etl, load_rules
        from workloads import Tracer
        ctx = self.ctx()
        if workload == "etl_roundtrip":
            tr, state = Tracer(None, False), {}
            if all(self.run_op(op, ctx, tr, 0, state) for op in ops):
                err = check_etl(ctx.etl_dir, ctx.out_dir,
                                load_rules(ctx.etl_dir))
                if err:
                    self.failures.append(f"etl_run: {err}")
            return
        oracle = Oracle(ctx.tables_dir)
        try:
            for op in ops:
                self.attempted += 1
                try:
                    err = op.check(ctx, oracle)
                except Exception as exc:  # noqa: BLE001
                    err = f"{type(exc).__name__}: {exc}"
                    traceback.print_exc(file=sys.stderr)
                if err:
                    self.failures.append(f"{op.name}: {err}")
        finally:
            oracle.close()

    def warm_up(self, ops, passes: int) -> None:
        from workloads import Tracer
        ctx, tr = self.ctx(), Tracer(None, False)
        for _ in range(passes):
            state: dict = {}
            for op in ops:
                self.run_op(op, ctx, tr, 0, state)

    def window(self, ops, tracer, seconds: float):
        """Passes back to back for ``seconds``: a pass starts only if,
        taking as long as the one before, it ends by the deadline (the
        first pass always runs). Returns (pass times, per-op latencies,
        per-pass counters)."""
        ctx = self.ctx()
        passes: list[float] = []
        lat: dict[str, list[float]] = {op.name: [] for op in ops}
        counters: list[dict] = []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() + passes[-1] <= t_end:
            state: dict = {}
            t0 = time.perf_counter()
            for op in ops:
                a = time.perf_counter()
                if self.run_op(op, ctx, tracer, len(passes) + 1, state):
                    lat[op.name].append(time.perf_counter() - a)
            passes.append(time.perf_counter() - t0)
            counters.append(self.sink_counters(ctx, state))
        return passes, lat, counters

    def sink_counters(self, ctx, state: dict) -> dict:
        """Files and bytes the export wrote, from a directory listing."""
        if "result" not in state or not os.path.isdir(ctx.out_dir):
            return {}
        data = [f for f in os.listdir(ctx.out_dir)
                if not f.startswith((".", "_"))]
        out_bytes = sum(os.path.getsize(os.path.join(ctx.out_dir, f))
                        for f in data)
        in_bytes = os.path.getsize(
            os.path.join(ctx.etl_dir, "lineitem_main.csv"))
        return {"sinks.files_written": len(data),
                "sinks.out_bytes_per_in_byte": out_bytes / in_bytes}


def end_to_end(setup_s: float, passes, lat, ok_frac: float,
               peak_rss_mb: float) -> tuple[dict, dict]:
    from metrics import geomean, tail_ratio
    done = {k: v for k, v in lat.items() if v}
    tail, pct, n = tail_ratio(done) if done else (1.0, 50.0, 0)
    vals = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "op_geomean_s": (geomean([statistics.median(v)
                                  for v in done.values()])
                         if done else 0.0),
        "ok_frac": ok_frac,
        "peak_rss_mb": peak_rss_mb,
    }
    detail = {"pass_s": passes, "op_tail_ratio": tail,
              "tail_percentile": pct, "tail_samples": n,
              "op_median_s": {k: statistics.median(v)
                              for k, v in done.items()}}
    return vals, detail


def per_layer(tracer, counters, event_log: list[str],
              jobs: dict[str, int]) -> tuple[dict, dict]:
    """Per-pass layer sums from spans, statusTracker job counts (by job
    group) and the event log; returns (median over passes, per-op trace
    detail)."""
    import eventlog
    from metrics import self_time, union_length
    groups = eventlog.parse(eventlog.read_events(event_log))
    by_pass: dict[int, dict] = {}
    ops_detail = []
    for op in tracer.ops:
        m = by_pass.setdefault(op.pass_no, {k: 0.0 for k in LAYER_UNITS})
        m.setdefault("_stage_max_ms", 0.0)
        m.setdefault("_stage_run_ms", 0.0)
        spans = [(c.start, c.end) for c in op.children]
        m["bench.op_self_s"] += self_time(op.start, op.end, spans)
        job_spans = []
        detail = {"op": op.name, "pass": op.pass_no,
                  "start": op.start, "end": op.end, "layers": []}
        for c in op.children:
            m[SPAN_METRICS[c.name]] += c.end - c.start
            g = groups.get(c.group) or eventlog.GroupStats()
            n_jobs = jobs[c.group]
            stages = [s for s in g.stages.values() if s.tasks]
            m["exec.jobs"] += n_jobs
            m["exec.stages"] += len(stages)
            m["exec.tasks"] += sum(s.tasks for s in stages)
            m["exec.task_run_s"] += g.run_s
            m["exec.jvm_cpu_s"] += g.cpu_s
            m["exec.gc_s"] += g.gc_s
            m["exec.shuffle_write_bytes"] += g.shuffle_write_bytes
            m["exec.shuffle_read_bytes"] += g.shuffle_read_bytes
            m["exec.spill_bytes"] += g.spill_bytes
            m["_stage_max_ms"] += sum(s.max_run_ms for s in stages)
            m["_stage_run_ms"] += sum(s.run_ms for s in stages)
            job_spans += g.job_spans
            detail["layers"].append({
                "layer": c.name, "group": c.group, "start": c.start,
                "end": c.end, "jobs": n_jobs,
                "event_log_jobs": len(g.job_spans),
                "stages": len(stages), "task_run_s": g.run_s,
                "jvm_cpu_s": g.cpu_s})
        m["exec.driver_s"] += (op.end - op.start) - union_length(
            job_spans, op.start, op.end)
        ops_detail.append(detail)
    for p, m in by_pass.items():
        m.update(counters[p - 1])
        run_ms = m.pop("_stage_run_ms")
        max_ms = m.pop("_stage_max_ms")
        m["exec.max_task_share"] = max_ms / run_ms if run_ms else 0.0
        m["exec.non_jvm_share"] = (max(0.0, 1 - m["exec.jvm_cpu_s"]
                                       / m["exec.task_run_s"])
                                   if m["exec.task_run_s"] else 0.0)
    vals = {k: statistics.median(m[k] for m in by_pass.values())
            for k in LAYER_UNITS
            if k not in ("session.get_spark_s", "trace.overhead_ratio")}
    return vals, {"ops": ops_detail}


def traced(run: Run, ops, seconds: float):
    """An untraced window of ``seconds / 2`` in the warm session, then a
    traced one in a fresh Spark context of the same JVM (the event log
    is a context setting), after WARMUP_PASSES untimed passes there: the
    first pass in a new context starts its Python workers and runs ~2x
    slower. Returns (per-layer metrics, detail, per-op trace)."""
    import eventlog
    from workloads import Tracer
    half = seconds / 2
    base, _, _ = run.window(ops, Tracer(None, False), half)
    event_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)
    run.restart("perfbench-traced", event_dir)
    run.warm_up(ops, WARMUP_PASSES)
    tr = Tracer(run.spark.sparkContext, True)
    passes, _, counters = run.window(ops, tr, half)
    time.sleep(1.0)  # let the listener bus reach statusTracker
    status = run.spark.sparkContext.statusTracker()
    jobs = {c.group: len(status.getJobIdsForGroup(c.group))
            for o in tr.ops for c in o.children}
    run.spark.stop()  # closes the event log
    run.spark = None
    metrics, trace_detail = per_layer(
        tr, counters, eventlog.find_log(event_dir), jobs)
    shutil.rmtree(event_dir, ignore_errors=True)
    metrics["trace.overhead_ratio"] = (statistics.median(passes)
                                       / statistics.median(base))
    detail = {"traced_pass_s": passes, "untraced_pass_s": base}
    return metrics, detail, trace_detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    prepare_environment()
    sys.path.insert(0, HERE)
    import gen
    from workloads import WORKLOADS, Tracer
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(WORKLOADS)}")
    ops = WORKLOADS[args.workload]

    t = time.perf_counter()
    cache = os.path.join(WORK, "inputs")
    inputs = gen.ensure_inputs(args.seed, cache)
    inputs["dir"] = gen.input_dir(cache, args.seed)
    gen_s = time.perf_counter() - t

    run = Run(inputs)
    try:
        # setup_s: program import, session, first scan (inputs excluded)
        t0 = time.perf_counter()
        import etl_tool_rep_spark.queries  # noqa: F401  (registry)
        get_spark_s = run.start("perfbench")
        (run.spark.read.parquet(os.path.join(inputs["dir"], "tables",
                                             "lineitem.parquet"))
         .selectExpr("sum(l_quantity)").collect())
        setup_s = time.perf_counter() - t0

        t = time.perf_counter()
        run.check_pass(ops, args.workload)
        check_s = time.perf_counter() - t
        t = time.perf_counter()
        run.warm_up(ops, WARMUP_PASSES)
        warm_s = time.perf_counter() - t
        host = {"nproc": nproc(), "pyspark": __import__("pyspark").__version__,
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "shuffle_partitions":
                    run.spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory":
                    run.spark.sparkContext.getConf().get("spark.driver.memory"),
                "master": run.spark.sparkContext.master}
        occ0 = occupancy()
        trace_detail = None
        if not args.trace:
            tr = Tracer(None, False)
            passes, lat, _ = run.window(ops, tr, args.seconds)
            rss = (vm_hwm_kb("self") + vm_hwm_kb(run.jvm_pid())) / 1024
            ok = 1 - len(run.failures) / run.attempted
            metrics, detail = end_to_end(setup_s, passes, lat, ok, rss)
            units = E2E_UNITS
        else:
            metrics, detail, trace_detail = traced(run, ops, args.seconds)
            metrics["session.get_spark_s"] = get_spark_s
            units = LAYER_UNITS
        occ1 = occupancy()
    finally:
        run.shutdown()

    host.update({"load1": [occ0["load1"], occ1["load1"]],
                 "steal_d": occ1["steal"] - occ0["steal"]})
    artifact = {"workload": args.workload, "seed": args.seed,
                "trace": args.trace, "seconds": args.seconds,
                "gen_s": gen_s, "check_s": check_s, "warm_s": warm_s,
                "inputs": {k: inputs[k] for k in ("rows", "bytes")},
                "host": host, "detail": detail, "failures": run.failures,
                "metrics": metrics, "trace_spans": trace_detail}
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)

    print(f"host {json.dumps(host)}")
    print(f"inputs rows={sum(inputs['rows'].values())} "
          f"bytes={sum(inputs['bytes'].values())} gen_s={gen_s:.2f} "
          f"check_s={check_s:.2f} warm_s={warm_s:.2f}")
    print(f"detail {json.dumps(detail)}")
    for f in run.failures:
        print(f"FAILED {f}")
    if not args.trace:
        print(f"fail_frac {len(run.failures) / run.attempted:.4f} ratio")
        print(f"op_tail_ratio {detail['op_tail_ratio']:.4f} ratio "
              f"(p{detail['tail_percentile']:g}, "
              f"{detail['tail_samples']} samples)")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
