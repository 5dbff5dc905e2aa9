"""Schema reuse in ``sources/readers.py``: a repeat read of an unchanged
CSV or parquet file passes the schema inferred on its first read, so it
starts no job, and gives the same schema, plan and rows as a read that
infers. A changed file, other options or a glob infer again."""

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etl_tool_rep_spark import catalog
from etl_tool_rep_spark.sources import read_csv, read_parquet, readers

ORDERS = ("row_id,cust_id,amount,status\n"
          "1,1,1500.5,Active\n"
          "2,2,800.0,Inactive\n"
          "3,99,2000.0,Active\n"
          "4,1,,Active\n")
MAPPING = "id,name\n1,Alice\n2,Bob\n1,Alicia\n"
TYPED = ("d,ts,flag,n\n"
         "2024-01-02,2024-01-02 03:04:05,true,7\n"
         ",,,\n"
         "2024-02-29,2024-02-29 23:59:59,false,-1\n")


def _plan(df) -> str:
    p = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", p)


def _entries(path):
    path = os.path.abspath(path)
    return [k for k in readers._SCHEMAS if k[1] == path]


def _uncached_csv(spark, path):
    return (spark.read.option("header", True).option("inferSchema", True)
            .csv(path))


@pytest.mark.parametrize("name", catalog.TABLES)
def test_warm_table_load_matches_cold(spark, sf_dir, name, group_jobs):
    path = os.path.join(sf_dir, f"{name}.parquet")
    for key in _entries(path):
        del readers._SCHEMAS[key]
    cold, cold_jobs = group_jobs(
        f"cold-{name}", lambda: catalog.load(spark, sf_dir, name))
    warm, warm_jobs = group_jobs(
        f"warm-{name}", lambda: catalog.load(spark, sf_dir, name))
    assert (cold_jobs, warm_jobs) == (1, 0)
    assert warm.schema == cold.schema
    assert _plan(warm) == _plan(cold)
    assert warm.collect() == cold.collect()
    plain = spark.read.parquet(path)
    assert read_parquet(spark, path).schema == plain.schema


@pytest.mark.parametrize("body", [ORDERS, MAPPING, TYPED])
def test_warm_csv_matches_uncached(spark, tmp_path, body, group_jobs):
    path = str(tmp_path / "sample.csv")
    with open(path, "w") as fh:
        fh.write(body)
    read_csv(spark, path)
    warm, jobs = group_jobs(f"warm-csv-{len(body)}",
                            lambda: read_csv(spark, path))
    assert jobs == 0
    plain = _uncached_csv(spark, path)
    assert warm.schema == plain.schema
    assert _plan(warm) == _plan(plain)
    assert warm.collect() == plain.collect()
    if body == ORDERS:
        assert warm.collect()[3]["amount"] is None


def test_in_place_rewrite_infers_again(spark, tmp_path, group_jobs):
    path = tmp_path / "t.csv"
    path.write_text("a\n1\n2\n")
    assert read_csv(spark, str(path)).schema["a"].dataType.typeName() \
        == "integer"
    ino = os.stat(path).st_ino
    with open(path, "w") as fh:      # same inode, same size
        fh.write("a\nx\ny\n")
    assert os.stat(path).st_ino == ino
    df, jobs = group_jobs("rewrite", lambda: read_csv(spark, str(path)))
    assert jobs == 2
    assert df.schema["a"].dataType.typeName() == "string"
    assert [r.a for r in df.collect()] == ["x", "y"]


def test_rename_over_infers_again(spark, tmp_path, group_jobs):
    path = tmp_path / "t.csv"
    path.write_text("a\n1\n2\n")
    read_csv(spark, str(path))
    old = os.stat(path)
    new = tmp_path / "t.csv.new"
    new.write_text("a\nx\ny\n")      # same size and mtime, new inode
    os.utime(new, ns=(old.st_atime_ns, old.st_mtime_ns))
    os.replace(new, path)
    assert os.stat(path).st_ino != old.st_ino
    df, jobs = group_jobs("rename", lambda: read_csv(spark, str(path)))
    assert jobs == 2
    assert df.schema["a"].dataType.typeName() == "string"


def test_options_key_separate_entries(spark, tmp_path):
    path = tmp_path / "t.csv"
    path.write_text("a,b\n1,2\n")
    comma = read_csv(spark, str(path), sep=",")
    pipe = read_csv(spark, str(path), sep="|")
    assert len(_entries(path)) == 2
    assert comma.columns == ["a", "b"] and pipe.columns == ["a,b"]
    assert read_csv(spark, str(path), sep="|").columns == ["a,b"]


def test_schema_confs_key_separate_entries(spark, tmp_path):
    path = tmp_path / "t.csv"
    path.write_text("ts\n2024-01-02 03:04:05\n")
    ltz = read_csv(spark, str(path)).schema["ts"].dataType.typeName()
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        ntz = read_csv(spark, str(path)).schema["ts"].dataType.typeName()
    finally:
        spark.conf.unset("spark.sql.timestampType")
    assert (ltz, ntz) == ("timestamp", "timestamp_ntz")
    assert len(_entries(path)) == 2


def _parquet_bytes(table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().to_pybytes()


def test_directory_version_covers_every_file(spark, tmp_path, group_jobs):
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(
        _parquet_bytes(pa.table({"id": [0, 1, 2]})))
    assert read_parquet(spark, str(d)).columns == ["id"]
    # rewrite the one file in place: the directory's entries and
    # mtime stay as they were
    with open(d / "part-0.parquet", "r+b") as fh:
        fh.write(_parquet_bytes(pa.table({"s": ["0", "1", "2"]})))
        fh.truncate()
    df, jobs = group_jobs("dir-rewrite", lambda: read_parquet(spark, str(d)))
    assert jobs == 1
    assert df.columns == ["s"]
    assert sorted(r.s for r in df.collect()) == ["0", "1", "2"]


def test_glob_not_cached(spark, tmp_path, group_jobs):
    """Spark expands a glob even where a file has that literal name."""
    (tmp_path / "a.csv").write_text("a\n1\n")
    (tmp_path / "*.csv").write_text("a\n2\n")
    glob = str(tmp_path / "*.csv")
    read_csv(spark, glob)
    df, jobs = group_jobs("glob", lambda: read_csv(spark, glob))
    assert jobs == 2
    assert df.count() == 2
    assert not _entries(glob)


def test_entries_bounded_oldest_out(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMAS", {})
    monkeypatch.setattr(readers, "_SCHEMAS_MAX", 2)
    paths = []
    for i in range(3):
        paths.append(tmp_path / f"t{i}.csv")
        paths[-1].write_text("a\n1\n")
        read_csv(spark, str(paths[-1]))
    assert [len(_entries(p)) for p in paths] == [0, 1, 1]


def test_missing_path_raises_path_not_found(spark, tmp_path):
    for read in (read_csv, read_parquet):
        path = tmp_path / f"nope-{read.__name__}"
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            read(spark, str(path))
        assert not _entries(path)
    (tmp_path / "nope-read_csv").write_text("a\n1\n")
    assert read_csv(spark, str(tmp_path / "nope-read_csv")).columns == ["a"]
