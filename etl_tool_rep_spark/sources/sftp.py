"""SFTP connector — parity with the reference's ``sftp_action``
(reference main.py:97-126): extract (remote file -> local staging ->
spark.read) and load (DataFrame -> CSV -> remote put).

Driver-side by design, like the reference. The scale boundary is
explicit: SFTP is a control-plane ingestion edge for small operational
files. Big data should land on object storage/HDFS and be read
directly by executors; for bulk SFTP sources, stage with a dedicated
transfer fleet (or distcp) first, then ``spark.read`` the staging
area.

Gated: paramiko is not installed in this environment — functions
raise NotImplementedError with a clear message rather than failing at
import.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

try:
    import paramiko
    _HAS_PARAMIKO = True
except ImportError:
    _HAS_PARAMIKO = False


def _client(host: str, port: int, username: str, password: str):
    if not _HAS_PARAMIKO:
        raise NotImplementedError(
            "SFTP needs paramiko (not installed in this environment)")
    ssh = paramiko.SSHClient()
    ssh.set_missing_host_key_policy(paramiko.AutoAddPolicy())
    ssh.connect(host, port=port, username=username, password=password)
    return ssh


def sftp_extract(spark: SparkSession, host: str, port: int, username: str,
                 password: str, remote_path: str,
                 staging_dir: str | None = None) -> DataFrame:
    """Fetch a remote file to a local staging path, then smart_load it
    (reference main.py:97-113 'extract' branch)."""
    from .readers import smart_load
    staging_dir = staging_dir or tempfile.mkdtemp(prefix="sftp_stage_")
    os.makedirs(staging_dir, exist_ok=True)
    local = os.path.join(staging_dir, os.path.basename(remote_path))
    ssh = _client(host, port, username, password)
    try:
        sftp = ssh.open_sftp()
        sftp.get(remote_path, local)
        sftp.close()
    finally:
        ssh.close()
    return smart_load(spark, local)


def sftp_extract_many(spark: SparkSession, host: str, port: int,
                      username: str, password: str, remote_dir: str,
                      pattern: str = "*.csv",
                      staging_dir: str | None = None,
                      max_workers: int = 8) -> DataFrame:
    """Batch SFTP ingest: list ``remote_dir``, fetch every file
    matching ``pattern`` into a local staging directory (concurrent
    driver-side transfers — SFTP is the control-plane edge), then
    read the WHOLE staging area with one distributed ``spark.read``
    glob. The transfer is driver-bound by protocol; the parse/scan is
    not — executors read the staged files in parallel, so a 10k-file
    drop costs one listing + N gets + one distributed read, never a
    per-file Spark job.

    All staged files must share one extension (one reader dispatch);
    mixed drops should be staged per-format. For truly bulk SFTP
    sources, stage with a dedicated transfer fleet first and point
    spark.read at the staging bucket — same second half, bigger first
    half."""
    import fnmatch
    from concurrent.futures import ThreadPoolExecutor

    from .readers import read_csv, read_json, read_parquet, read_pipe
    staging_dir = staging_dir or tempfile.mkdtemp(prefix="sftp_stage_")
    os.makedirs(staging_dir, exist_ok=True)
    ssh = _client(host, port, username, password)
    try:
        sftp = ssh.open_sftp()
        names = [n for n in sftp.listdir(remote_dir)
                 if fnmatch.fnmatch(n, pattern)]
        if not names:
            raise ValueError(
                f"sftp_extract_many: nothing matches {pattern!r} in "
                f"{remote_dir}")

        def fetch(name: str) -> None:
            # one SFTP channel per worker thread; paramiko channels
            # are not thread-safe to share
            c = _client(host, port, username, password)
            try:
                s = c.open_sftp()
                s.get(os.path.join(remote_dir, name),
                      os.path.join(staging_dir, name))
                s.close()
            finally:
                c.close()

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            list(pool.map(fetch, names))
        sftp.close()
    finally:
        ssh.close()

    exts = {os.path.splitext(n)[1].lower() for n in names}
    if len(exts) != 1:
        raise ValueError(
            f"sftp_extract_many: mixed extensions {sorted(exts)} — "
            "stage per-format")
    ext = exts.pop()
    dispatch = {".csv": read_csv, ".txt": read_pipe, ".json": read_json,
                ".parquet": read_parquet}
    if ext not in dispatch:
        raise ValueError(f"sftp_extract_many: no distributed reader "
                         f"for {ext!r}")
    return dispatch[ext](spark, os.path.join(staging_dir, f"*{ext}"))


def sftp_load(df: DataFrame, host: str, port: int, username: str,
              password: str, remote_path: str) -> None:
    """Serialize a (small) result to one CSV and push it (reference
    main.py:115-122 'load' branch). Collects to the driver — bounded
    outputs only; large results belong on object storage."""
    import glob
    import shutil

    from ..sinks import write_csv
    staging = tempfile.mkdtemp(prefix="sftp_out_")
    try:
        out_dir = os.path.join(staging, "csv")
        write_csv(df, out_dir, single_file=True)
        part = glob.glob(os.path.join(out_dir, "part-*.csv"))[0]
        ssh = _client(host, port, username, password)
        try:
            sftp = ssh.open_sftp()
            sftp.put(part, remote_path)
            sftp.close()
        finally:
            ssh.close()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
