"""Session launch: the master comes from the caller, else the launch
conf, else ``SPARK_GRAFT_CPUS``; the shuffle width follows the
master's cores unless the caller or the launch conf sets it. Each case
needs its own JVM or SparkContext, so the sessions run in a
subprocess."""

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


def _run(body: str, env: dict[str, str | None] | None = None) -> list[str]:
    """stdout words of ``body`` in a fresh interpreter; an ``env`` value
    of None unsets that variable."""
    code = (f"import sys\nsys.path.insert(0, {REPO!r})\n"
            "from etl_tool_rep_spark.session import get_spark\n"
            + _PLANNED_WIDTH + body)
    env = dict(os.environ, **(env or {}))
    p = subprocess.run([sys.executable, "-c", code],
                       env={k: v for k, v in env.items() if v is not None},
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


_MASTER = ("spark = get_spark('master', master={master},\n"
           "                  extra_conf={{'spark.driver.memory': '1g'}})\n"
           "print(spark.sparkContext.master, planned_width(spark))\n"
           "spark.stop()\n")


def test_launch_master_wins_over_cpus_env():
    # the caller's master= wins over the launch one; with master=None
    # the launch master wins, with or without SPARK_GRAFT_CPUS
    launch = {"PYSPARK_SUBMIT_ARGS": "--master local[2] pyspark-shell"}
    out = _run(_MASTER.format(master="'local[3]'")
               + _MASTER.format(master=None)
               + "import os\nos.environ['SPARK_GRAFT_CPUS'] = '5'\n"
               + _MASTER.format(master=None),
               env=dict(launch, SPARK_GRAFT_CPUS=None))
    assert out == ["local[3]", "3", "local[2]", "2", "local[2]", "2"]


def test_cpus_env_applies_without_a_launch_master():
    out = _run(_MASTER.format(master=None),
               env={"PYSPARK_SUBMIT_ARGS": None, "SPARK_GRAFT_CPUS": "3"})
    assert out == ["local[3]", "3"]
