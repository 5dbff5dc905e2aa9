"""The driver JVM's class-data-sharing archive (``session`` module
docstring): recorded once per key into the user cache, published only
after a clean JVM exit, mapped by later sessions, and harmless when it
is damaged, stale or cannot apply. Each case runs its own subprocess
session under ``XDG_CACHE_HOME=tmp_path``."""

import glob
import json
import os
import subprocess
import sys

import duckdb
import pytest

from etl_tool_rep_spark.session import _alive, _cds_key

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one stdout line: the sum, the JVM's pid and input arguments, and the
# shuffle width the session runs at
_SCRIPT = """
import json, sys
from etl_tool_rep_spark.session import get_spark
spark = get_spark("cds_test", extra_conf=json.loads(sys.argv[1]))
total = spark.read.parquet(sys.argv[2]).selectExpr(
    "sum(l_quantity)").collect()[0][0]
jvm = spark._jvm.java.lang
print(json.dumps({
    "sum": total, "pid": jvm.ProcessHandle.current().pid(),
    "args": list(jvm.management.ManagementFactory.getRuntimeMXBean()
                 .getInputArguments()),
    "width": spark.conf.get("spark.sql.shuffle.partitions")}))
"""


def _session(cache, sf_dir, extra_conf=None, env=None):
    """Run one subprocess session with its user cache at ``cache``;
    returns (the stdout record, stderr)."""
    full = {k: v for k, v in os.environ.items()
            if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    full.update({"XDG_CACHE_HOME": str(cache), "PYTHONPATH": ROOT,
                 "SPARK_GRAFT_CPUS": "2"}, **(env or {}))
    conf = {"spark.driver.memory": "1g", **(extra_conf or {})}
    p = subprocess.run(
        [sys.executable, "-c", _SCRIPT, json.dumps(conf),
         os.path.join(sf_dir, "lineitem.parquet")],
        env=full, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    assert len(lines) == 1, f"stdout holds more than the record: {lines}"
    return json.loads(lines[0]), p.stderr


def _key():
    from pyspark.find_spark_home import _find_spark_home
    return _cds_key(_find_spark_home())


def _cds_dir(cache):
    return os.path.join(cache, "etl_tool_rep_spark", "cds")


def _archive(cache):
    """The one published archive in ``cache``: ``<key>.<bytes>.jsa``."""
    path, = glob.glob(os.path.join(_cds_dir(cache), f"{_key()}.*.jsa"))
    assert os.path.getsize(path) == int(path.split(".")[-2])
    return path


def _uses(rec, flag):
    return any(flag in a for a in rec["args"])


@pytest.fixture(scope="module")
def want_sum(sf_dir):
    path = os.path.join(sf_dir, "lineitem.parquet")
    return duckdb.sql(f"SELECT sum(l_quantity) FROM read_parquet('{path}')"
                      ).fetchone()[0]


@pytest.fixture(scope="module")
def recorded(tmp_path_factory, sf_dir):
    """A cache after one cold session: (cache dir, its record)."""
    cache = tmp_path_factory.mktemp("cold")
    rec, _ = _session(cache, sf_dir)
    return cache, rec


def test_cold_session_publishes_one_archive(recorded, want_sum):
    cache, rec = recorded
    assert rec["sum"] == want_sum
    assert _uses(rec, "-XX:ArchiveClassesAtExit=")
    assert not _alive(rec["pid"]), "the recording JVM outlived its process"
    assert sorted(os.listdir(_cds_dir(cache))) == sorted(
        [os.path.basename(_archive(cache)), "conf"])
    assert not os.listdir(os.path.join(_cds_dir(cache), "conf"))


def test_warm_session_maps_the_archive(recorded, sf_dir, want_sum,
                                       tmp_path):
    """``-Xshare:on`` (after the session's ``-Xshare:auto``) makes an
    archive that cannot map a JVM start error; the class-load log
    names where SparkContext came from."""
    cache, _ = recorded
    loads = tmp_path / "class_load.log"
    rec, _ = _session(cache, sf_dir, {
        "spark.driver.extraJavaOptions":
            f"-Xshare:on -Xlog:class+load=info:file={loads}"})
    assert rec["sum"] == want_sum
    assert _uses(rec, "-XX:SharedArchiveFile=")
    assert not _uses(rec, "-XX:ArchiveClassesAtExit=")
    shared = [ln for ln in loads.read_text().splitlines()
              if "org.apache.spark.SparkContext " in ln]
    assert shared and "source: shared objects file (top)" in shared[0]


def test_truncated_archive_is_recorded_again(recorded, sf_dir, want_sum,
                                             tmp_path):
    """JDK 17 dies of SIGBUS mapping a truncated archive, so one whose
    size is not the one in its name is never mapped: the session
    records a whole one in its place."""
    src = _archive(recorded[0])
    cache = tmp_path / "cache"
    os.makedirs(_cds_dir(cache))
    with open(src, "rb") as fh, open(os.path.join(
            _cds_dir(cache), os.path.basename(src)), "wb") as out:
        out.write(fh.read(os.path.getsize(src) // 2))
    rec, _ = _session(cache, sf_dir)
    assert rec["sum"] == want_sum
    assert not _uses(rec, "-XX:SharedArchiveFile=")
    assert _uses(rec, "-XX:ArchiveClassesAtExit=")
    assert os.path.getsize(_archive(cache)) > os.path.getsize(src) // 2


def test_archive_of_another_class_path_still_runs(sf_dir, want_sum,
                                                  tmp_path):
    """An archive recorded under a class path of the launcher jar alone
    does not match the session's, so ``-Xshare:auto`` runs without it."""
    from pyspark.find_spark_home import _find_spark_home
    home = _find_spark_home()
    jar, = glob.glob(os.path.join(home, "jars", "spark-launcher_*.jar"))

    cache = tmp_path / "cache"
    os.makedirs(_cds_dir(cache))
    dst = os.path.join(_cds_dir(cache), "stale.jsa")
    subprocess.run(
        ["java", f"-XX:ArchiveClassesAtExit={dst}", "-cp", jar,
         "org.apache.spark.launcher.Main",
         "org.apache.spark.deploy.SparkSubmit", "--version"],
        env={**os.environ, "SPARK_HOME": home},
        capture_output=True, timeout=120)
    os.rename(dst, os.path.join(
        _cds_dir(cache), f"{_key()}.{os.path.getsize(dst)}.jsa"))
    rec, _ = _session(cache, sf_dir)
    assert rec["sum"] == want_sum
    assert _uses(rec, "-XX:SharedArchiveFile=")


def test_real_conf_dir_skips_cds(sf_dir, want_sum, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.sql.shuffle.partitions 7\n")
    rec, err = _session(tmp_path / "cache", sf_dir,
                        env={"SPARK_CONF_DIR": str(conf)})
    assert rec["sum"] == want_sum
    assert rec["width"] == "7"
    assert not _uses(rec, "Archive") and not _uses(rec, "-Xshare")
    said = [ln for ln in err.splitlines() if "class-data-sharing" in ln]
    assert len(said) == 1 and str(conf) in said[0]
    assert not os.path.exists(tmp_path / "cache" / "etl_tool_rep_spark")
