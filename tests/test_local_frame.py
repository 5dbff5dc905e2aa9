"""``session.local_frame`` must build the same frame as
``createDataFrame(rows, schema)`` (rows, schema and nullability) for
every type the engine passes, while planning as a JVM
``LocalTableScan`` instead of a scan over a pickled Python RDD; and
``session.hold`` must bring a computed frame back the same way, with
its true size, in one job."""

import datetime
import decimal
import os
import subprocess
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from etl_tool_rep_spark import session
from etl_tool_rep_spark.session import hold, local_frame, pin

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WIDE = ("a long, b int, c double, d string, e decimal(38,10), "
         "f array<long>, g array<array<double>>, h date, i timestamp")

_CASES = {
    "scalars_and_arrays": (
        [(1, 2, 1.5, "x", decimal.Decimal("12345.0123456789"),
          [1, None, 3], [[1.0], [], [2.5, None]],
          datetime.date(2020, 2, 29),
          datetime.datetime(2021, 3, 14, 1, 59, 26, 535897)),
         (-(2 ** 63), -(2 ** 31), -0.0, "", decimal.Decimal("0E-10"),
          [], [], datetime.date(1969, 12, 31),
          datetime.datetime(1969, 12, 31, 23, 59, 59, 999999))],
        _WIDE),
    "all_null_rows": ([(None,) * 9, (None,) * 9], _WIDE),
    "rows_with_nested_struct": (
        [Row(k=1, s=Row(p="u", q=[2, 3])), Row(k=2, s=None)],
        "k long, s struct<p: string, q: array<long>>"),
    "not_null_field": (
        [(0, 3), (1, 0)],
        T.StructType([T.StructField("cid", T.LongType()),
                      T.StructField("n", T.LongType(), False)])),
    "empty": ([], "k long, v string"),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_frame_matches_list_path(spark, case):
    rows, schema = _CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in _plan(got)
    assert "ExistingRDD" in _plan(want)


def test_naive_datetimes_keep_list_path_meaning_off_utc():
    """A naive datetime is local wall time on the list path; under a
    non-UTC TZ it must land on the same instant here."""
    code = (
        "import datetime, time\n"
        "from etl_tool_rep_spark.session import get_spark, local_frame\n"
        "assert time.timezone != 0\n"
        "spark = get_spark('local_frame_tz', master='local[1]',\n"
        "    extra_conf={'spark.driver.memory': '1g'})\n"
        "rows = [(datetime.datetime(2024, 3, 10, 2, 30),),\n"
        "        (datetime.datetime(2024, 7, 1, 12, 0, 0, 7),),\n"
        "        (datetime.datetime(2024, 7, 1, 12, 0,\n"
        "            tzinfo=datetime.timezone.utc),)]\n"
        "f = lambda df: [r[0] for r in\n"
        "    df.selectExpr('unix_micros(ts)').collect()]\n"
        "a = f(spark.createDataFrame(rows, 'ts timestamp'))\n"
        "b = f(local_frame(spark, rows, 'ts timestamp'))\n"
        "print('MATCH' if a == b else f'DIFF {a} {b}')\n"
        "spark.stop()\n")
    env = {**os.environ, "TZ": "America/New_York", "PYTHONPATH": REPO}
    p = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    assert p.stdout.strip().splitlines()[-1] == "MATCH"


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def test_held_frame_has_its_true_size_and_broadcasts(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_tool_rep_spark.catalog import load
    from etl_tool_rep_spark.operators.graph import co_supplier_edges

    edges = pin(co_supplier_edges(load(spark, sf_dir, "lineitem")))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    held = hold(deg)
    n = held.count()
    assert _optimized(held).getClass().getSimpleName() == "LocalRelation"
    # 8-byte id + 8-byte count + Spark's 8-byte row overhead
    assert int(str(_optimized(held).stats().sizeInBytes())) == 24 * n
    # the same frame pinned reads too big to broadcast
    assert int(str(_optimized(pin(deg)).stats().sizeInBytes())) > int(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    plan = _plan(edges.join(held, "a"))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_held_frame_keeps_schema_and_cells(spark):
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("x", T.DoubleType()),
        T.StructField("big", T.DecimalType(38, 0)),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ids", T.ArrayType(T.LongType())),
    ])
    rows = [(1, 1.5, decimal.Decimal(10 ** 37 + 7),
             datetime.date(2020, 2, 29),
             datetime.datetime(2021, 3, 14, 1, 59, 26, 535897),
             [1, None, 3]),
            (2, None, None, None, None, None),
            (3, -0.0, decimal.Decimal(-(10 ** 37)),
             datetime.date(1969, 12, 31),
             datetime.datetime(1969, 12, 31, 23, 59, 59, 999999), [])]
    # computed by Spark (a filter over the scan), not a local relation
    df = spark.createDataFrame(rows, schema).filter("k > 0")
    got = hold(df)
    assert got.schema == df.schema
    assert sorted(got.collect()) == sorted(df.collect())
    assert "LocalTableScan" in _plan(got)


def test_over_the_bound_hold_is_a_pin(spark, monkeypatch):
    df = spark.range(25).selectExpr("id", "id * id AS sq")
    monkeypatch.setattr(session, "HOLD_ROWS", 10)
    got = hold(df)
    assert _optimized(got).getClass().getSimpleName() == "LogicalRDD"
    assert sorted(got.collect()) == sorted(pin(df).collect())


def test_hold_runs_one_job(spark, group_jobs):
    df = spark.range(1000).selectExpr("id", "id % 7 AS m")
    held, jobs = group_jobs("hold-one-job", lambda: hold(df))
    assert jobs == 1
    assert held.count() == 1000
