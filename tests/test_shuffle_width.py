"""Shuffle width follows the master's cores unless the caller or the
launch conf sets it. Each case needs its own SparkContext, so the
sessions run in a subprocess."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PLANNED_WIDTH = (
    "import re\n"
    "def planned_width(spark):\n"
    "    grouped = spark.range(10).selectExpr('id % 2 AS k').groupBy('k')\n"
    "    plan = grouped.count()._jdf.queryExecution().executedPlan()\n"
    "    return re.search(r'hashpartitioning\\(.*?, (\\d+)\\)',\n"
    "                     plan.toString()).group(1)\n")


def _run(body: str, env: dict[str, str] | None = None) -> list[str]:
    code = (f"import sys\nsys.path.insert(0, {REPO!r})\n"
            "from etl_tool_rep_spark.session import get_spark\n"
            + _PLANNED_WIDTH + body)
    p = subprocess.run([sys.executable, "-c", code],
                       env=dict(os.environ, **(env or {})),
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout.split()


def test_width_is_master_cores_unless_extra_conf_sets_it():
    out = _run(
        "mem = {'spark.driver.memory': '1g'}\n"
        "spark = get_spark('width', master='local[3]', extra_conf=mem)\n"
        "print(planned_width(spark))\n"
        "spark.stop()\n"
        "spark = get_spark('width', master='local[3]', extra_conf=dict(\n"
        "    mem, **{'spark.sql.shuffle.partitions': '5'}))\n"
        "print(planned_width(spark))\n"
        "spark.stop()\n")
    assert out == ["3", "5"]


def test_launch_conf_width_wins():
    out = _run(
        "spark = get_spark('width', master='local[3]',\n"
        "                  extra_conf={'spark.driver.memory': '1g'})\n"
        "print(planned_width(spark))\n"
        "spark.stop()\n",
        env={"PYSPARK_SUBMIT_ARGS":
             "--conf spark.sql.shuffle.partitions=7 pyspark-shell"})
    assert out == ["7"]
