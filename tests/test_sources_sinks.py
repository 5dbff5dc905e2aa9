"""Reader parity (FIXTURES.md B4): the same data serialized multiple
ways must load identically through smart_load; writers round-trip."""

import os
import pathlib
import re
import time

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_tool_rep_spark.catalog import load
from etl_tool_rep_spark.sinks import write_csv, write_partitioned
from etl_tool_rep_spark.sinks import writers
from etl_tool_rep_spark.sources import (read_excel, read_sniffed,
                                        smart_load)
from etl_tool_rep_spark.sources.sftp import sftp_extract


@pytest.fixture(scope="module")
def slice_df(spark, sf_dir):
    return (load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    "o_totalprice")
            .orderBy("o_orderkey").limit(100))


@pytest.fixture(scope="module")
def fmt_dir(spark, slice_df, tmp_path_factory):
    d = tmp_path_factory.mktemp("formats")
    pdf = slice_df.toPandas()
    pdf.to_csv(d / "etl_main.csv", index=False)
    pdf.to_csv(d / "etl_main.txt", sep="|", index=False)
    pdf.to_json(d / "etl_main.json", orient="records", lines=True)
    pdf.to_parquet(d / "etl_main.parquet")
    pdf.to_csv(d / "etl_sniff.dat", sep=";", index=False)
    return d


def _rows(df):
    return sorted(
        (r["o_orderkey"], r["o_custkey"], r["o_orderstatus"],
         float(r["o_totalprice"]))
        for r in df.collect())


def test_all_formats_load_identically(spark, slice_df, fmt_dir):
    expect = _rows(slice_df)
    for name in ["etl_main.csv", "etl_main.txt", "etl_main.json",
                 "etl_main.parquet"]:
        got = _rows(smart_load(spark, str(fmt_dir / name)))
        assert got == expect, name


def test_sniffed_semicolon(spark, slice_df, fmt_dir):
    df = read_sniffed(spark, str(fmt_dir / "etl_sniff.dat"))
    assert _rows(df) == _rows(slice_df)
    # unknown extension goes through the sniffer too (main.py:86-88)
    assert _rows(smart_load(spark, str(fmt_dir / "etl_sniff.dat"))) \
        == _rows(slice_df)


def test_excel_gated(spark, fmt_dir):
    """openpyxl absent here: the reader must fail with a clear
    NotImplementedError, not an ImportError at import time."""
    fake = fmt_dir / "etl_main.xlsx"
    fake.write_bytes(b"PK\x03\x04fake")
    with pytest.raises(NotImplementedError, match="openpyxl"):
        read_excel(spark, str(fake))


def test_sftp_gated(spark):
    with pytest.raises(NotImplementedError, match="paramiko"):
        sftp_extract(spark, "example.invalid", 22, "u", "p", "/x.csv")


def test_write_csv_single_file_roundtrip(spark, slice_df, tmp_path):
    out = str(tmp_path / "export")
    write_csv(slice_df, out, single_file=True)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    back = smart_load(spark, os.path.join(out, parts[0]))
    assert _rows(back) == _rows(slice_df)


# Column names that a naive line split would get wrong: a comma, a
# quote, a line break and non-ASCII text (Spark quotes the first three).
_TRICKY = ["a,b", 'say "hi"', "two\nlines", "café ü"]


@pytest.fixture(scope="module")
def tricky_df(spark):
    rows = [(i, f"x,{i}", f"l\n{i}" if i % 7 == 0 else str(i),
             "é" * (i % 3)) for i in range(200)]
    schema = T.StructType([T.StructField(n, T.LongType() if n == "a,b"
                                         else T.StringType())
                           for n in _TRICKY])
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
                               schema)
    assert df.columns == _TRICKY and df.rdd.getNumPartitions() == 4
    return df


def _parts(d) -> list[bytes]:
    """The data files of a CSV output directory, in content order (part
    names carry a per-write UUID)."""
    return sorted(p.read_bytes() for p in pathlib.Path(d).glob("part-*"))


def _layout(d) -> list[str]:
    """File names with the per-write UUID masked (_SUCCESS, .crc too)."""
    return sorted(re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}",
                         "UUID", f) for f in os.listdir(d))


def _coalesced(df, path, mode="overwrite"):
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


@pytest.mark.parametrize("frame", ["tricky", "empty"])
def test_single_file_bytes_match_coalesce(spark, tricky_df, tmp_path,
                                          frame):
    df = tricky_df if frame == "tricky" else tricky_df.limit(0)
    _coalesced(df, str(tmp_path / "ref"))
    write_csv(df, str(tmp_path / "got"), single_file=True)
    ref, got = _parts(tmp_path / "ref"), _parts(tmp_path / "got")
    assert got == ref and len(got) == 1
    if frame == "empty":
        assert got[0].count(b"\n") == 2  # header only; one quoted \n
    assert _layout(tmp_path / "got") == _layout(tmp_path / "ref")
    assert sorted(os.listdir(tmp_path)) == ["got", "ref"]  # no temp dir


@pytest.mark.parametrize("mode", ["overwrite", "append", "ignore",
                                  "error"])
def test_single_file_modes_match_coalesce(spark, tricky_df, tmp_path,
                                          mode):
    """Onto an existing output, each mode leaves the same files (and
    raises the same error) as the coalesced write."""
    new = tricky_df.filter(F.col("`a,b`") % 3 == 0)
    results = {}
    for side in ("ref", "got"):
        out = str(tmp_path / side)
        _coalesced(tricky_df, out)
        try:
            if side == "ref":
                _coalesced(new, out, mode)
            else:
                write_csv(new, out, mode=mode, single_file=True)
            results[side] = _parts(out)
        except AnalysisException as exc:
            results[side] = exc.getCondition()
    assert results["got"] == results["ref"]
    assert results["got"] != [] and sorted(os.listdir(tmp_path)) == [
        "got", "ref"]


def test_single_file_write_runs_in_parallel(spark, tricky_df, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("single-file-export", "single-file export")
    try:
        write_csv(tricky_df, str(tmp_path / "out"), single_file=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    status = sc.statusTracker()
    deadline = time.time() + 10
    while True:  # the listener bus updates the tracker asynchronously
        stages = [s for j in status.getJobIdsForGroup("single-file-export")
                  for s in status.getJobInfo(j).stageIds]
        infos = [status.getStageInfo(s) for s in stages]
        if (stages and all(infos)) or time.time() > deadline:
            break
        time.sleep(0.1)
    assert max(i.numTasks for i in infos) > 1


def test_single_file_failures_leave_output_and_no_temp(
        spark, tricky_df, tmp_path, monkeypatch):
    out = str(tmp_path / "out")
    _coalesced(tricky_df, out)
    before = _parts(out)
    boom = spark.range(10).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
         .otherwise(F.col("id")).alias("id"))
    with pytest.raises(Exception, match="boom"):
        write_csv(boom, out, single_file=True)
    # a later part whose header differs from the first part's must
    # fail the merge, not be concatenated
    monkeypatch.setattr(writers, "_read_header",
                        lambda fs, part: b"not,the,header\n")
    with pytest.raises(IOError, match="CSV header"):
        write_csv(tricky_df, out, single_file=True)
    assert _parts(out) == before
    assert os.listdir(tmp_path) == ["out"]


def test_header_end_is_quote_aware():
    head = b'"a,b","q\\"x","new\nline",back\\,"bs\\\\\\"q"\n'
    assert writers._header_end(head + b"1,2,3,4,5\n") == len(head)
    assert writers._header_end(head[:-1]) is None


def test_write_partitioned_prunes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "part_orders")
    orders = load(spark, sf_dir, "orders")
    write_partitioned(orders, out, ["o_orderstatus"],
                      files_per_partition=2)
    # layout: one dir per status
    dirs = sorted(d for d in os.listdir(out)
                  if d.startswith("o_orderstatus="))
    assert dirs == ["o_orderstatus=F", "o_orderstatus=O",
                    "o_orderstatus=P"]
    back = spark.read.parquet(out)
    got = back.filter(F.col("o_orderstatus") == "F")
    # partition pruning visible in the scan plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert got.count() == orders.filter("o_orderstatus = 'F'").count()
    assert "o_orderstatus=F" in plan or "PartitionFilters" in plan
