"""tools/measure.py end to end: one session over two fixture dirs,
one record per (key, dir, pass) with event-log stage metrics, scaling
exponents from the lineitem row-count ratio, and plan files."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

from perfbench import eventlog
from tools.measure import _stage_metrics

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "measure.py")
DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
KEYS = ["groupby_agg", "kmeans_exact", "streaming_tumbling_agg"]


def test_measure_two_dirs(tmp_path):
    out, plans = tmp_path / "runs.jsonl", tmp_path / "plans"
    cmd = [sys.executable, TOOL, *KEYS, "--iters", "1",
           "--out", str(out), "--plans", str(plans)]
    for d in DIRS:
        cmd += ["--sf", d]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                       timeout=600, env={**os.environ,
                                         "SPARK_GRAFT_DRIVER_MEM": "2g"})
    assert p.returncode == 0, p.stderr[-3000:]

    recs = [json.loads(line) for line in out.read_text().splitlines()]
    assert sorted((r["key"], r["dir"], r["pass"]) for r in recs) == \
        sorted((k, d, 1) for k in KEYS for d in DIRS)
    for r in recs:
        assert r["wall_s"] > 0
        assert r["build_s"] >= 0 and r["exec_s"] >= 0
        # each of the three is rounded to 1 ms on its own
        assert abs(r["build_s"] + r["exec_s"] - r["wall_s"]) <= 0.002
        assert r["jobs"] >= 1 and r["tasks"] >= r["stages"] >= 1
        assert 0 < r["max_task_share"] <= 1
    # the warm count tests/test_tier22.py pins through statusTracker:
    # the warm-up pass already inferred the embeddings schema
    assert {r["jobs"] for r in recs if r["key"] == "kmeans_exact"} == {7}
    # micro-batch jobs run under the stream's run id and are folded in
    for r in recs:
        if r["key"] == "streaming_tumbling_agg":
            assert r["jobs"] > 1, r
            assert "stream_runs" not in r

    rows = [pq.read_metadata(os.path.join(d, "lineitem.parquet")).num_rows
            for d in DIRS]
    summary = {s["key"]: s for s in map(json.loads, p.stdout.splitlines())
               if "key" in s}
    assert set(summary) == set(KEYS)
    for key in KEYS:
        (e,) = summary[key]["exponents"]
        assert e["dirs"] == DIRS
        assert e["ratio"] == rows[1] / rows[0]
        assert isinstance(e["exponent"], float)

    for key in KEYS:
        for d in DIRS:
            plan = plans / f"{key}@{os.path.basename(d)}.txt"
            assert "Physical Plan" in plan.read_text()


def test_unknown_key_exits_before_a_jvm(tmp_path):
    # no java is reachable in this env: a known key fails at the JVM
    # launch, so exit 2 for an unknown one means it was rejected first
    env = {**os.environ, "JAVA_HOME": str(tmp_path / "no-java"),
           "PATH": os.path.dirname(sys.executable)}

    def run(*keys):
        return subprocess.run([sys.executable, TOOL, *keys], cwd=REPO,
                              capture_output=True, text=True,
                              timeout=120, env=env)

    p = run("groupby_agg", "no_such_key")
    assert p.returncode == 2
    assert "unknown key: no_such_key" in p.stderr
    control = run("groupby_agg")
    assert control.returncode not in (0, 2), control.stderr[-2000:]


def test_worst_stage_ignores_sub_granularity_stages():
    # 4 tasks, 1 ms in total: max/mean reads 4.0 from timer rounding
    g = eventlog.GroupStats(
        job_spans=[(0.0, 1.0)],
        stages={0: eventlog.StageTasks(run_ms=1, max_run_ms=1, tasks=4)})
    m = _stage_metrics(g)
    assert m["worst_stage"] is None
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 1, 4)
