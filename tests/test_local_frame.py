"""``session.local_frame`` must build the same frame as
``createDataFrame(rows, schema)`` (rows, schema and nullability) for
every type the engine passes, while planning as a JVM
``LocalTableScan`` instead of a scan over a pickled Python RDD."""

import datetime
import decimal
import os
import subprocess
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from etl_tool_rep_spark.session import local_frame

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
