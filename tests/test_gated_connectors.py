"""Mock-driven happy-path tests for the optionally-gated connectors:
SFTP extract/load (paramiko), Excel reads (openpyxl), and the PIL
image decode/resize stubs. The real libraries are absent in this
container, so each test injects a minimal fake at the gate point and
drives the connector's own code end-to-end; companion tests pin the
clean NotImplementedError when the gate is closed.
"""

from __future__ import annotations

import os
import pathlib
import sys
import types

import pandas as pd
import pytest

from etl_tool_rep_spark.operators import multimodal
from etl_tool_rep_spark.sources import readers, sftp


# ---------------------------------------------------------------------------
# SFTP (reference main.py:97-122) via a fake paramiko
# ---------------------------------------------------------------------------

class _FakeSFTP:
    """Records puts, serves gets from the local filesystem."""

    def __init__(self, log):
        self.log = log

    def get(self, remote_path, local_path):
        with open(remote_path, "rb") as src, \
                open(local_path, "wb") as dst:
            dst.write(src.read())
        self.log.append(("get", remote_path, local_path))

    def put(self, local_path, remote_path):
        with open(local_path, "rb") as src, \
                open(remote_path, "wb") as dst:
            dst.write(src.read())
        self.log.append(("put", local_path, remote_path))

    def listdir(self, remote_dir):
        return sorted(os.listdir(remote_dir))

    def close(self):
        pass


class _FakeSSH:
    calls: list = []

    def set_missing_host_key_policy(self, policy):
        pass

    def connect(self, host, port, username, password):
        _FakeSSH.calls.append((host, port, username))

    def open_sftp(self):
        return _FakeSFTP(_FakeSSH.calls)

    def close(self):
        pass


@pytest.fixture
def fake_paramiko(monkeypatch):
    mod = types.SimpleNamespace(
        SSHClient=_FakeSSH,
        AutoAddPolicy=lambda: None,
    )
    monkeypatch.setattr(sftp, "paramiko", mod, raising=False)
    monkeypatch.setattr(sftp, "_HAS_PARAMIKO", True)
    _FakeSSH.calls = []
    return mod


def test_sftp_extract_reads_remote_csv(spark, tmp_path, fake_paramiko):
    remote = tmp_path / "remote.csv"
    remote.write_text("id,name\n1,alpha\n2,beta\n")
    df = sftp.sftp_extract(spark, "host", 22, "user", "pw", str(remote),
                           staging_dir=str(tmp_path / "stage"))
    rows = {(r["id"], r["name"]) for r in df.collect()}
    assert rows == {(1, "alpha"), (2, "beta")}
    assert ("host", 22, "user") in _FakeSSH.calls


def test_sftp_load_round_trip(spark, tmp_path, fake_paramiko):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    dest = tmp_path / "out.csv"
    sftp.sftp_load(df, "host", 22, "user", "pw", str(dest))
    back = pd.read_csv(dest).sort_values("id")
    assert list(back["id"]) == [1, 2]
    assert list(back["v"]) == ["x", "y"]
    # staging dir is cleaned up after the put
    assert any(op == "put" for op, *_ in _FakeSSH.calls if op == "put")


def test_sftp_load_puts_the_single_file_export(spark, tmp_path,
                                               monkeypatch):
    """The pushed file is byte-identical to a coalesced one-file CSV
    write of the same frame, here from four partitions."""
    rows = [(i, f"v,{i}") for i in range(100)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
                               "id long, v string")
    ref = tmp_path / "ref"
    df.coalesce(1).write.option("header", True).csv(str(ref))
    (want,) = [p.read_bytes() for p in ref.glob("part-*")]
    put = []

    class Client:
        def open_sftp(self):
            return types.SimpleNamespace(
                put=lambda local, remote: put.append(
                    (pathlib.Path(local).read_bytes(), remote)),
                close=lambda: None)

        def close(self):
            pass

    monkeypatch.setattr(sftp, "_client", lambda *a: Client())
    sftp.sftp_load(df, "host", 22, "user", "pw", "/remote/out.csv")
    assert put == [(want, "/remote/out.csv")]


def test_sftp_gated_without_paramiko(spark):
    if sftp._HAS_PARAMIKO:  # pragma: no cover - env-dependent
        pytest.skip("paramiko installed here")
    with pytest.raises(NotImplementedError, match="paramiko"):
        sftp.sftp_extract(spark, "h", 22, "u", "p", "/nope.csv")


# ---------------------------------------------------------------------------
# Excel (reference main.py:80-81) via a fake openpyxl + pandas stub
# ---------------------------------------------------------------------------

def test_read_excel_happy_path(spark, monkeypatch, tmp_path):
    monkeypatch.setitem(sys.modules, "openpyxl", types.ModuleType("openpyxl"))
    fake = pd.DataFrame({"sku": ["a1", "b2"], "qty": [3, 4]})
    seen = {}

    def fake_read_excel(path, *a, **kw):
        seen["path"] = path
        return fake

    monkeypatch.setattr(pd, "read_excel", fake_read_excel)
    xlsx = tmp_path / "book.xlsx"
    xlsx.write_bytes(b"not really xlsx")
    df = readers.smart_load(spark, str(xlsx))  # exercises dispatch too
    assert seen["path"] == str(xlsx)
    assert {(r["sku"], r["qty"]) for r in df.collect()} \
        == {("a1", 3), ("b2", 4)}


def test_read_excel_gated_without_openpyxl(spark, monkeypatch):
    monkeypatch.setitem(sys.modules, "openpyxl", None)  # forces ImportError
    with pytest.raises(NotImplementedError, match="openpyxl"):
        readers.read_excel(spark, "/nope.xlsx")


# ---------------------------------------------------------------------------
# Multimodal resize (PIL gate)
# ---------------------------------------------------------------------------

class _FakeImg:
    format = "JPEG"

    def __init__(self, data):
        self.data = data

    def resize(self, size):
        self.size = size
        return self

    def save(self, buf, format=None):
        buf.write(b"resized:" + self.data)


@pytest.fixture
def fake_pil(monkeypatch):
    image_mod = types.SimpleNamespace(
        open=lambda fh: _FakeImg(fh.read()))
    monkeypatch.setattr(multimodal, "Image", image_mod, raising=False)
    monkeypatch.setattr(multimodal, "_HAS_PIL", True)
    return image_mod


def test_decode_and_resize_with_fake_pil(fake_pil):
    # non-PNG payloads are decoded, resized and re-encoded through the
    # (mocked) PIL path
    out = multimodal.resize_image(b"pixels", 4, 4)
    assert out == b"resized:pixels"


def test_multimodal_gated_without_pil():
    if multimodal._HAS_PIL:  # pragma: no cover - env-dependent
        pytest.skip("PIL installed here")
    with pytest.raises(NotImplementedError, match="PIL"):
        multimodal.resize_image(b"x", 2, 2)


def test_sample_frames_frms_real_other_gated():
    # FRMS containers decode natively (no external decoder)
    from etl_tool_rep_spark.operators import png
    frames = [png.encode_png(bytes([i] * 6), 3, 2, 1) for i in range(5)]
    got = multimodal.sample_frames(png.pack_frames(frames), every_n=2)
    assert got == frames[::2]
    # real video containers stay gated on the absent decoder
    with pytest.raises(NotImplementedError, match="decoder"):
        multimodal.sample_frames(b"video-bytes")


def test_excel_dispatch_registered():
    assert readers._DISPATCH[".xlsx"] is readers.read_excel
    assert readers._DISPATCH[".xls"] is readers.read_excel
    assert os.path.splitext("a.XLSX")[1].lower() == ".xlsx"


# ---------------------------------------------------------------------------
# Distributed many-file ingest (round 4): binaryFile + mapInPandas
# Excel, and batched SFTP staging. The Spark plumbing is real; only
# the byte-level parse is injected (openpyxl absent here).
# ---------------------------------------------------------------------------

def _make_csv_parser():
    """Stand-in per-file parser: the fixture's 'xlsx' files carry CSV
    bytes. Runs on EXECUTORS — so it's built as a closure (cloudpickle
    ships it by value; a test-module function would pickle by
    reference to a module executors can't import)."""
    def parse(data: bytes):
        import io

        import pandas as pd
        return pd.read_csv(io.BytesIO(data))
    return parse


@pytest.fixture(scope="module")
def excel_drop_dir(tmp_path_factory):
    """100 fake workbook files, 3 rows each, distinct values."""
    d = tmp_path_factory.mktemp("excel_drop")
    for i in range(100):
        (d / f"book_{i:03d}.xlsx").write_bytes(
            ("sku,qty\n" + "".join(
                f"f{i}_r{j},{i * 10 + j}\n" for j in range(3))
             ).encode())
    return str(d)


def test_read_excel_many_distributed(spark, excel_drop_dir):
    df = readers.read_excel_many(spark, excel_drop_dir,
                                 parser=_make_csv_parser())
    assert set(df.columns) == {"sku", "qty", "source_path"}
    rows = df.collect()
    assert len(rows) == 300
    # every file contributed, values intact, lineage column populated
    assert {r["qty"] for r in rows} == {i * 10 + j
                                        for i in range(100)
                                        for j in range(3)}
    assert all(r["source_path"].endswith(".xlsx") for r in rows)
    assert len({r["source_path"] for r in rows}) == 100


def test_read_excel_many_explicit_schema_and_empty(spark, tmp_path,
                                                   excel_drop_dir):
    import pyspark.sql.types as T
    schema = T.StructType([T.StructField("sku", T.StringType()),
                           T.StructField("qty", T.LongType())])
    df = readers.read_excel_many(spark, excel_drop_dir, schema=schema,
                                 parser=_make_csv_parser(),
                                 include_source_path=False)
    assert df.columns == ["sku", "qty"]
    assert df.count() == 300
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no files"):
        readers.read_excel_many(spark, str(empty),
                                parser=_make_csv_parser())


def test_sftp_extract_many_round_trip(spark, tmp_path, fake_paramiko):
    remote = tmp_path / "remote_drop"
    remote.mkdir()
    for i in range(100):
        (remote / f"part_{i:03d}.csv").write_text(
            f"id,name\n{i},row_{i}\n")
    (remote / "ignore.log").write_text("not data\n")
    df = sftp.sftp_extract_many(
        spark, "host", 22, "user", "pw", str(remote),
        pattern="*.csv", staging_dir=str(tmp_path / "stage"))
    rows = {(r["id"], r["name"]) for r in df.collect()}
    assert rows == {(i, f"row_{i}") for i in range(100)}


def test_sftp_extract_many_guards(spark, tmp_path, fake_paramiko):
    remote = tmp_path / "remote_empty"
    remote.mkdir()
    with pytest.raises(ValueError, match="nothing matches"):
        sftp.sftp_extract_many(spark, "h", 22, "u", "p", str(remote))
