"""File readers — parity with the reference's ``smart_load``
(reference main.py:69-94): CSV (S1), pipe-delimited .txt (S2), Excel
(S3), JSON (S4), Parquet (S5), delimiter-sniffing fallback (S6), with
extension-based dispatch.

Spark-first mapping: everything is a distributed ``spark.read`` except
Excel, which has no native Spark reader — it loads driver-side via
pandas/openpyxl and converts. That is a deliberate scale boundary:
Excel files are human-authored small artifacts; anything big arrives
as CSV/JSON/Parquet and streams through executors.
"""

from __future__ import annotations

import csv
import os
import stat
import threading
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# SQL confs that change the schema a CSV or parquet read infers.
_SCHEMA_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.timestampType",
)
_GLOB_CHARS = frozenset("{}[]*?\\")

# (format, abs path, options, confs) -> (file version, inferred schema).
# Process-wide, because each rerun of an app builds a new engine over
# the same uploads; bounded, oldest entry out first.
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}
_SCHEMAS_MAX = 1024
_SCHEMAS_LOCK = threading.Lock()


def _file_version(path: str) -> tuple | None:
    """(st_ino, st_size, st_mtime_ns) of a local file, or that tuple
    with its relative path for every file under a local directory.
    None for what is not cached: a path with a colon (a URI scheme), a
    glob, or a path that cannot be listed, such as a missing one
    (Spark raises its own error for it)."""
    if ":" in path or _GLOB_CHARS.intersection(path):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        version = []
        for d, _, files in os.walk(path):
            for f in files:
                p = os.path.join(d, f)
                fst = os.stat(p)
                version.append((os.path.relpath(p, path), fst.st_ino,
                                fst.st_size, fst.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(version))


def _read_inferred(spark: SparkSession, fmt: str, path: str,
                   **options) -> DataFrame:
    """``spark.read`` of one CSV or parquet path that infers its schema
    once per file version: a repeat read of an unchanged local file or
    directory (same inode, size and mtime for every file) with the same
    options and schema-relevant confs passes the remembered schema and
    starts no inference job. Anything else infers, as a plain read
    does, and an unchanged file remembers the result. An in-place
    rewrite that keeps the file's size and lands in the same mtime
    tick as the version read goes unseen."""
    reader = spark.read.format(fmt).options(**options)
    version = _file_version(path)
    if version is None:
        return reader.load(path)
    key = (fmt, os.path.abspath(path), tuple(sorted(options.items())),
           tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == version:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    if _file_version(path) == version:  # not rewritten while inferring
        schema = df.schema
        with _SCHEMAS_LOCK:
            _SCHEMAS.pop(key, None)
            if len(_SCHEMAS) >= _SCHEMAS_MAX:
                del _SCHEMAS[next(iter(_SCHEMAS))]
            _SCHEMAS[key] = (version, schema)
    return df


def read_csv(spark: SparkSession, path: str, sep: str = ",",
             header: bool = True, infer: bool = True) -> DataFrame:
    """S1 (main.py:76-77): header + schema inference like pandas
    read_csv. Inference is a full pass over the file (two Spark jobs);
    it runs on the first read of each file version only, and a repeat
    read of the unchanged file reuses its schema (``_read_inferred``).
    At scale pass an explicit schema instead."""
    return _read_inferred(spark, "csv", path, header=header,
                          inferSchema=infer, sep=sep)


def read_pipe(spark: SparkSession, path: str) -> DataFrame:
    """S2 (main.py:78-79): .txt files are pipe-delimited."""
    return read_csv(spark, path, sep="|")


def read_json(spark: SparkSession, path: str) -> DataFrame:
    """S4 (main.py:82-83): line-delimited or records-array JSON.
    multiLine handles the pandas-style records array; JSONL streams
    better at scale."""
    df = spark.read.json(path)
    if df.columns == ["_corrupt_record"]:
        df = spark.read.option("multiLine", True).json(path)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S5 (main.py:84-85). The footer-merging inference job runs on the
    first read of each file version only (``_read_inferred``)."""
    return _read_inferred(spark, "parquet", path)


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """S3 (main.py:80-81). Driver-side pandas/openpyxl -> DataFrame.
    Gated: openpyxl is not in every environment."""
    try:
        import openpyxl  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "Excel reads need openpyxl (not installed in this "
            "environment); convert to CSV/Parquet instead") from exc
    import pandas as pd
    return spark.createDataFrame(pd.read_excel(path))


def _default_excel_parser(data: bytes):
    """bytes -> pandas.DataFrame via openpyxl (gated)."""
    try:
        import openpyxl  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "Excel reads need openpyxl (not installed in this "
            "environment); convert to CSV/Parquet instead") from exc
    import io

    import pandas as pd
    return pd.read_excel(io.BytesIO(data))


def read_excel_many(spark: SparkSession, path: str,
                    glob: str = "*.xlsx",
                    schema: Optional[T.StructType] = None,
                    parser: Optional[Callable] = None,
                    include_source_path: bool = True) -> DataFrame:
    """Distributed many-small-files Excel ingest — the real-world
    form of S3 at scale (a partner drops 10k workbooks in a bucket):
    a wildcard ``binaryFile`` scan ships each file's bytes to an
    executor, and every file is parsed INSIDE ``mapInPandas`` — no
    driver loop, parallelism = file count, one job.

    ``schema``: explicit result schema, or None to infer driver-side
    from the FIRST matching file (one small read — the per-file parse
    output must be schema-stable across files either way).
    ``parser``: bytes -> pandas.DataFrame; defaults to the
    openpyxl-gated pandas.read_excel. Injectable so the distributed
    plumbing is testable without openpyxl, and swappable for other
    per-file formats (the pattern works for any small-binary corpus).
    ``include_source_path`` appends the originating file as a column
    — lineage for per-file quarantine/reprocessing.

    The single-file driver-side ``read_excel`` stays for parity with
    the reference (main.py:80-81); this is the scale path."""
    parser = parser or _default_excel_parser
    binary = read_binary(spark, path, glob=glob).select("path", "content")
    if schema is None:
        first = binary.limit(1).collect()
        if not first:
            raise ValueError(
                f"read_excel_many: no files matching {glob!r} under "
                f"{path}")
        schema = spark.createDataFrame(
            parser(bytes(first[0]["content"]))).schema
    out_schema = T.StructType(list(schema.fields))
    if include_source_path:
        out_schema = T.StructType(
            list(schema.fields)
            + [T.StructField("source_path", T.StringType())])
    data_cols = [f.name for f in schema.fields]

    def parse(batches):
        for pdf in batches:
            for content, src in zip(pdf["content"], pdf["path"]):
                parsed = parser(bytes(content))[data_cols]
                if include_source_path:
                    parsed = parsed.assign(source_path=src)
                yield parsed

    return binary.mapInPandas(parse, out_schema)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Beyond the reference (no ORC there): columnar alternative to
    parquet, same predicate-pushdown/column-pruning path in Spark."""
    return spark.read.orc(path)


def read_xml(spark: SparkSession, path: str,
             row_tag: str = "row") -> DataFrame:
    """Beyond the reference (no XML there): Spark 4's built-in XML
    source — schema inference + the same pushdown path as JSON.
    ``row_tag`` names the repeating element that becomes a row."""
    return (spark.read.format("xml")
            .option("rowTag", row_tag).load(path))


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """One row per line (column ``value``) — the raw-corpus ingest
    path for unstructured text; pair with chunk/tokenize operators."""
    return spark.read.text(path)


def read_binary(spark: SparkSession, path: str,
                glob: str | None = None) -> DataFrame:
    """binaryFile source: (path, modificationTime, length, content) —
    the multimodal ingest path (images/audio as opaque bytes; see
    operators/multimodal.py for the decode plumbing)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def sniff_delimiter(path: str, sample_bytes: int = 64 * 1024) -> str:
    """S6 (main.py:86-91): csv.Sniffer over a driver-side head sample —
    the file itself is then read distributed with the detected
    delimiter."""
    with open(path, "r", newline="", errors="replace") as fh:
        sample = fh.read(sample_bytes)
    return csv.Sniffer().sniff(sample).delimiter


def read_sniffed(spark: SparkSession, path: str) -> DataFrame:
    return read_csv(spark, path, sep=sniff_delimiter(path))


_DISPATCH = {
    ".csv": read_csv,
    ".txt": read_pipe,
    ".json": read_json,
    ".parquet": read_parquet,
    ".orc": read_orc,
    ".xlsx": read_excel,
    ".xls": read_excel,
}


def smart_load(spark: SparkSession, path: str) -> DataFrame:
    """Extension dispatch mirroring main.py:74-88; unknown extensions
    fall back to delimiter sniffing (main.py:86-88)."""
    ext = os.path.splitext(path)[1].lower()
    reader = _DISPATCH.get(ext, read_sniffed)
    return reader(spark, path)
