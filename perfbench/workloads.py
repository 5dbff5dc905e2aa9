"""Workloads: each is a fixed list of ops run back to back, one client
in one process (a closed loop). One pass runs every op once.

An op calls the program only through its public entry points and
records a span around each call into a layer. With tracing on, each
child span also opens its own Spark job group, so every Spark job is
attributed to exactly one (pass, op, layer) span.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    pass_no: int
    start: float
    end: float = 0.0
    group: str | None = None
    children: list["Span"] = field(default_factory=list)


class Tracer:
    """Spans in memory. ``traced=False`` records op spans only and
    sets no job groups, so untraced runs pay nothing per layer call."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.ops: list[Span] = []

    @contextmanager
    def op(self, name: str, pass_no: int):
        s = Span(name, name, pass_no, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.ops.append(s)

    @contextmanager
    def layer(self, parent: Span, name: str):
        if not self.traced:
            yield
            return
        s = Span(name, parent.op, parent.pass_no, time.time())
        s.group = f"p{parent.pass_no}.{parent.op}.{name}"
        self.sc.setJobGroup(s.group, s.group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            s.end = time.time()
            parent.children.append(s)


@dataclass
class Ctx:
    spark: object
    tables_dir: str
    etl_dir: str
    out_dir: str
    rules_json: str


class QueryOp:
    """``QUERIES[key](spark, dir)`` (layer ``queries.build``) then a
    noop write (layer ``queries.exec``)."""

    def __init__(self, key: str):
        self.name = key

    def run(self, ctx: Ctx, tr: Tracer, span: Span, state: dict) -> None:
        from etl_tool_rep_spark.queries import QUERIES
        with tr.layer(span, "queries.build"):
            df = QUERIES[self.name](ctx.spark, ctx.tables_dir)
        with tr.layer(span, "queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, ctx: Ctx, oracle) -> str | None:
        from etl_tool_rep_spark.queries import ORACLES, QUERIES
        df = QUERIES[self.name](ctx.spark, ctx.tables_dir)
        return oracle.check_query(self.name, df, ORACLES)


class EtlLoad:
    """The reference's upload step: the primary CSV and every mapping
    CSV into a fresh ``ETLEngine`` (layer ``sources.load``)."""

    name = "etl_load"

    def run(self, ctx: Ctx, tr: Tracer, span: Span, state: dict) -> None:
        from etl_tool_rep_spark.engine import ETLEngine
        eng = ETLEngine(ctx.spark)
        with tr.layer(span, "sources.load"):
            eng.set_primary(eng.add_file(
                os.path.join(ctx.etl_dir, "lineitem_main.csv")))
            for f in sorted(os.listdir(ctx.etl_dir)):
                if f.endswith("_map.csv"):
                    eng.add_mapping_file(os.path.join(ctx.etl_dir, f))
        state["engine"] = eng


class EtlRun:
    """Rule import and compile to one select (layer ``pipeline.compile``)
    then the reference's download: ``export_csv`` with its default
    single file (layer ``sinks.write``). One op: the compile is lazy and
    ~0.25 s, and as an op of its own its run-to-run noise dominated the
    geometric mean."""

    name = "etl_run"

    def run(self, ctx: Ctx, tr: Tracer, span: Span, state: dict) -> None:
        eng = state["engine"]
        with tr.layer(span, "pipeline.compile"):
            eng.import_pipeline_json(ctx.rules_json)
            state["result"] = eng.run()
        shutil.rmtree(ctx.out_dir, ignore_errors=True)
        with tr.layer(span, "sinks.write"):
            eng.export_csv(state["result"], ctx.out_dir)


ETL_OPS = [EtlLoad(), EtlRun()]

# Why each workload exists (also in README.md). A fourth, relational
# (TPC-H joins) workload was measured and left out: four workloads do
# not fit the run budget with windows long enough to be steady.
# * etl_roundtrip — the reference user flow; the only workload that
#   loads CSVs and writes files, so sources/pipeline/sinks move here. It
#   has no Python worker and few jobs: the control for both below.
# * llm_corpus — Python UDFs, applyInPandas and mapInArrow: the
#   operators/functions layers and the Python-worker share of task time.
#   near_dedup_minhash was left out: it took 35-40 % of a pass and most
#   of the cold pass, and as a rows-only key its output check is only
#   "has rows"; every op kept is checked against its oracle.
# * iterative — a driver-side loop issuing 12 small jobs from one query
#   call: the job count and driver self time. Every loop key costs
#   60-140 ms per job here, so a pass is about as long as its job count
#   allows; bfs_distances (32 jobs, ~4.5 s warm, ~15 s cold) left one or
#   two timed passes per run and spread 0.27 between runs.
WORKLOADS: dict[str, list] = {
    "etl_roundtrip": ETL_OPS,
    "llm_corpus": [QueryOp(k) for k in (
        "embedding_knn", "bootstrap_ci", "quality_score", "exact_dedup")],
    "iterative": [QueryOp("kmeans_exact")],
}
