"""Sinks — the reference's CSV download / SFTP put (main.py:439-458)
generalized to distributed writers with a 100 TB posture.

Layout rules that matter at scale (encoded as defaults here):
* partition by low-cardinality time/tenant keys so downstream reads
  partition-prune;
* target file sizes ~128 MB — both tiny-file floods and giant files
  hurt; AQE coalescing plus an optional repartition before write
  controls this;
* CSV exists for export parity with the reference; Parquet is the
  real interchange format.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

# Spark's CSV writer defaults: a field holding the separator, a quote
# or a line break is quoted, and inside quotes ``\`` escapes one byte.
_QUOTE, _ESCAPE, _NEWLINE = ord('"'), ord("\\"), ord("\n")


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True, single_file: bool = False) -> None:
    """CSV sink (reference K1, main.py:439-442). ``single_file``
    mirrors the reference's one-download-file shape: the parts are
    written at scan parallelism, then concatenated in partition order
    into one ``part-*.csv`` (see ``_write_one_csv``)."""
    if single_file:
        _write_one_csv(df, path, mode, header)
    else:
        df.write.mode(mode).option("header", header).csv(path)


def _header_end(buf: bytes) -> int | None:
    """Length of the first CSV record in ``buf`` including its line
    break, or None if it does not end in ``buf``. Quote-aware: a
    quoted column name can hold a line break."""
    quoted, i = False, 0
    while i < len(buf):
        c = buf[i]
        if quoted and c == _ESCAPE:
            i += 1
        elif c == _QUOTE:
            quoted = not quoted
        elif c == _NEWLINE and not quoted:
            return i + 1
        i += 1
    return None


def _write_one_csv(df: DataFrame, path: str, mode: str,
                   header: bool) -> None:
    """Write ``df`` as one CSV file, byte-identical to
    ``df.coalesce(1).write.csv(path)`` without running the whole plan
    as one task. Spark writes part files in parallel into a hidden
    sibling directory; they are concatenated there in partition order
    through the Hadoop ``FileSystem`` API (any filesystem, no data
    through Python) and the result is moved into ``path``. Every part
    starts with the header, so it is kept from the first part only,
    after checking that each later part starts with exactly those
    bytes; a mismatch raises before ``path`` is touched. ``mode`` means
    what it means to Spark; the temporary directory is removed on
    success and on failure."""
    spark = df.sparkSession
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    writer = df.write.mode(mode).option("header", header)  # checks mode
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    dest = Path(path)
    fs = dest.getFileSystem(conf)
    dest = fs.makeQualified(dest)
    mode = mode.lower()
    if fs.exists(dest):
        if mode == "ignore":
            return
        if mode in ("error", "errorifexists", "default"):
            writer.csv(path)  # Spark's own error, raised before any job
    tmp = Path(dest.getParent(),
               f".{dest.getName()}-{uuid.uuid4().hex}.tmp")
    try:
        writer.mode("error").csv(tmp.toString())
        parts = sorted((s.getPath() for s in fs.listStatus(tmp)
                        if s.getPath().getName().startswith("part-")),
                       key=lambda p: (int(p.getName().split("-")[1]),
                                      p.getName()))
        head = _read_header(fs, parts[0]) if header else b""
        merged = Path(tmp, "merged")
        out = fs.create(merged, False)
        try:
            for i, part in enumerate(parts):
                src = fs.open(part)
                try:
                    if i and head and src.readNBytes(len(head)) != head:
                        raise IOError(f"{part.toString()} does not start "
                                      "with the first part's CSV header")
                    jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                        src, out, 1 << 16, False)
                finally:
                    src.close()
        finally:
            out.close()
        if mode == "overwrite":
            fs.delete(dest, True)
        fs.mkdirs(dest)
        if not fs.rename(merged, Path(dest, parts[0].getName())):
            raise IOError(f"cannot move the merged CSV into {path}")
        if fs.exists(Path(tmp, "_SUCCESS")):
            fs.create(Path(dest, "_SUCCESS"), True).close()
    finally:
        fs.delete(tmp, True)


def _read_header(fs, part) -> bytes:
    """The header record that starts ``part``."""
    src = fs.open(part)
    try:
        buf = b""
        while True:
            chunk = src.readNBytes(4096)
            buf += chunk
            end = _header_end(buf)
            if end is not None:
                return buf[:end]
            if len(chunk) < 4096:
                raise IOError(f"{part.toString()} has no complete CSV "
                              "header")
    finally:
        src.close()


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_by: list[str],
                   n_buckets: int = 32, sort_by: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed (hash-clustered) table write. Two tables bucketed on
    the same key with the same bucket count join WITHOUT a shuffle —
    the amortization play for repeated large-fact joins at 100 TB:
    pay the clustering once at write time, skip the exchange on every
    subsequent join/aggregation on that key.

    Bucketing requires the table catalog (saveAsTable), not a bare
    path."""
    writer = (df.write.mode(mode)
              .bucketBy(n_buckets, *bucket_by))
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_partitioned(df: DataFrame, path: str,
                      partition_by: list[str],
                      mode: str = "overwrite",
                      files_per_partition: int | None = None) -> None:
    """Partitioned parquet layout: one directory level per partition
    column. ``files_per_partition`` repartitions by the partition keys
    first so each output directory gets a bounded number of files
    (avoids the 1-file-per-task flood when many tasks hold rows of
    many partitions)."""
    out = df
    if files_per_partition:
        out = df.repartition(files_per_partition, *partition_by)
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)
