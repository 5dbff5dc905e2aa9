import json

import pytest

import eventlog


def _events():
    props = {"spark.jobGroup.id": "p1.q.queries.exec"}
    task = {"Executor Run Time": 300, "Executor CPU Time": 100_000_000,
            "JVM GC Time": 20, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 11,
                                     "Local Bytes Read": 13},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 17}}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1], "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": dict(task, **{"Executor Run Time": 100})},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2500},
        # a later job re-lists stage 1 (skipped there) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3000, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "other"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": task},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 3500},
        # jobs outside any group are ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 4000, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": task},
    ]


def test_parse_attributes_tasks_to_groups():
    g = eventlog.parse(_events())
    assert set(g) == {"p1.q.queries.exec", "other"}
    q = g["p1.q.queries.exec"]
    assert q.job_spans == [(1.0, 2.5)]
    assert q.run_s == pytest.approx(0.7)
    assert q.cpu_s == pytest.approx(0.3)
    assert q.gc_s == pytest.approx(0.06)
    assert q.shuffle_read_bytes == 3 * 24
    assert q.shuffle_write_bytes == 3 * 17
    assert q.spill_bytes == 3 * 12
    assert sorted(q.stages) == [0, 1]
    assert q.stages[0].tasks == 2
    assert q.stages[0].max_run_ms == 300
    assert q.stages[0].run_ms == 400
    assert sorted(g["other"].stages) == [2]


def test_find_log_reads_rolling_parts_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    evs = _events()
    (app / "events_2_local-1").write_text(
        "\n".join(json.dumps(e) for e in evs[5:]) + "\n")
    (app / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in evs[:5]) + "\n")
    (app / "appstatus_local-1").write_text("")
    paths = eventlog.find_log(str(tmp_path))
    assert [p.rsplit("/", 1)[1] for p in paths] == [
        "events_1_local-1", "events_2_local-1"]
    assert eventlog.parse(eventlog.read_events(paths)).keys() == \
        eventlog.parse(_events()).keys()


def test_event_log_of_a_tiny_local_session(tmp_path):
    """End to end on a real session: one job group, one shuffle."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "3")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        sc.setJobGroup("g1", "test")
        n = (spark.range(0, 1000, numPartitions=2)
             .groupBy((pyspark.sql.functions.col("id") % 7).alias("k"))
             .count().collect())
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()  # ungrouped, must not be attributed
    finally:
        spark.stop()
    assert len(n) == 7
    g = eventlog.parse(eventlog.read_events(eventlog.find_log(str(log_dir))))
    assert set(g) == {"g1"}
    stats = g["g1"]
    assert len(stats.job_spans) >= 1
    assert all(b >= a for a, b in stats.job_spans)
    ran = [s for s in stats.stages.values() if s.tasks]
    assert sum(s.tasks for s in ran) == 2 + 3  # map side + reduce side
    assert stats.shuffle_write_bytes > 0
    assert stats.shuffle_read_bytes == stats.shuffle_write_bytes
    assert 0 <= stats.cpu_s
    assert all(s.max_run_ms <= s.run_ms for s in ran)
