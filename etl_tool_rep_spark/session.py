"""SparkSession factory.

Defaults are chosen for correctness-stable, scale-ready execution:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (hash-stable timestamps vs the
DuckDB oracle), Arrow transfer for the Pandas-UDF slow path.

On a real cluster the same factory applies; only master/memory come
from the environment (spark-submit), never hardcoded here.

Cold start: the driver JVM maps a JDK dynamic class-data-sharing
(AppCDS) archive of the classes a session loads, which halves the
time to a first answer (perfbench ``etl_roundtrip`` setup median
11.45 s -> 6.24 s on a 4-core host, JDK 17.0.20, Spark 4.1.2).
- Location: ``$XDG_CACHE_HOME/etl_tool_rep_spark/cds/`` (else
  ``~/.cache/...``), one ``<key>.<bytes>.jsa`` per key, never in the
  repo. An archive whose size is not the one in its name is never
  mapped (JDK 17 dies of SIGBUS on a truncated archive).
- Key: a hash of the java that ``spark-class`` runs (its home and
  ``release`` file), the Spark version and the class path (name, size
  and mtime of each jar under the launched ``SPARK_HOME/jars``).
- The first session under a key records the archive into
  ``<key>.<pid>.part`` as its JVM exits (about 20 s, once); its Python
  process waits for that at exit and publishes the file (``os.replace``)
  only if the JVM exited with 0. A JVM killed meanwhile leaves nothing
  behind, and the next session records again. A JVM that exited by
  itself without an archive leaves ``<key>.failed``, and no later
  session records under that key.
- JDK 17 records no archive with a non-empty directory on the class
  path, and ``spark-class`` puts the conf dir there. So the launch
  points ``SPARK_CONF_DIR`` at an empty ``cds/conf`` only when the
  effective conf dir is absent or holds nothing but ``*.template``
  files, which changes nothing Spark reads; otherwise the session runs
  without CDS and logs one line saying why.
- ``-Xshare:auto``: a stale or damaged archive only loses the gain.
  Delete the ``cds`` directory to clear the cache (and to measure a
  cold start).
- Driver only: executor JVMs on a cluster start without an archive.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import logging
import os
import shutil
import subprocess

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


_MEMINFO = "/proc/meminfo"


def _driver_memory_default() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else about 60 % of the
    host's RAM in whole GB (a fixed 16g asked a 15 GB host for more
    than it has), else 16g when the host's size cannot be read."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(_MEMINFO) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kb = int(line.split()[1])
                    return f"{max(kb * 6 // (10 * 1024 ** 2), 1)}g"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


# the directory that holds the etl_tool_rep_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 64 MiB input splits keep ~100 TB scans at ~1.6M tasks w/ AQE
    # coalescing; at local SF it just avoids tiny-partition overhead.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # broadcast anything under 64 MiB — mapping/dim tables.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # corpus events.parquet carries TIMESTAMP(NANOS); read as long,
    # catalog.load converts back to TimestampType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # PySpark's default (true) captures the Python call stack on every
    # functions/Column call, at extra py4j round trips each: compiling
    # and exporting a 16-rule pipeline took ~2200 py4j calls with it
    # and ~1100 without. The cost of turning it off: an error raised by
    # a DataFrame operation no longer names the Python line that built
    # it in its query context.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # keep stage-progress bars out of captured stdout: committed
    # sweep/audit logs must contain every per-key line verbatim (the
    # \r-rewriting progress writer can swallow lines when stdout is a
    # pipe), and the driver parses bench.py's single JSON line.
    "spark.ui.showConsoleProgress": "false",
    # static conf: bucketed saveAsTable needs a warehouse; keep it out
    # of the repo working dir
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
    "spark.driver.memory": _driver_memory_default(),
    # streaming state lives in RocksDB (native memory + local disk),
    # not on the JVM heap: the HDFS-backed in-memory provider held
    # the whole state map on-heap, which is what pushed the sf10
    # streaming rehearsal past a 16 g driver. Results are provider-
    # independent (oracles unchanged); artifacts/state_growth_r10
    # re-measures the watermark plateau under RocksDB.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    # StreamingQuery.stop() waits this long for a running micro-batch,
    # then throws (Spark's default, 0, waits forever): a foreachBatch
    # handler that never returns cannot hang streaming.stream.drain
    "spark.sql.streaming.stopTimeout": "60s",
}


# keep the JVM's class-data-sharing log lines off stdout, which
# bench.py and the CLI hand to their callers
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# how long a Python process waits at exit for its JVM to write the
# archive (about 20 s for a full session's classes) before killing it
_DUMP_WAIT_S = 120


def _cds_dir() -> str:
    cache = (os.environ.get("XDG_CACHE_HOME")
             or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(cache, "etl_tool_rep_spark", "cds")


def _cds_key(spark_home: str) -> str:
    """What an archive is valid for: the java ``spark-class`` runs,
    the Spark version and the jars on the class path."""
    from pyspark import __version__

    java = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java")))
    h = hashlib.sha256(f"{os.path.realpath(java)}\n{__version__}\n"
                       .encode())
    try:
        with open(os.path.join(java, "release"), "rb") as fh:
            h.update(fh.read())
    except OSError:
        pass
    try:
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")),
                      key=lambda e: e.name)
    except OSError:
        jars = []
    for e in jars:
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _archive_or_claim(d: str, key: str) -> tuple[str | None, str | None]:
    """(the archive to map, None) when ``d`` holds a whole archive for
    ``key``. Else (None, the ``<key>.<pid>.part`` file this process's
    JVM may record into), or (None, None) when none can be written:
    the cache is unwritable, an earlier JVM under ``key`` ended cleanly
    without an archive, or a live process records one already.

    An archive is whole when its size is the one in its name,
    ``<key>.<bytes>.jsa``: JDK 17 dies of SIGBUS, ``-Xshare:auto`` or
    not, when it maps a truncated one. Other archives and the parts of
    dead processes are removed."""
    pattern = os.path.join(glob.escape(d), key + ".*.")
    try:
        os.makedirs(os.path.join(d, "conf"), exist_ok=True)
        for path in glob.glob(pattern + "jsa"):
            if os.path.getsize(path) == int(path.split(".")[-2]):
                return path, None
            os.remove(path)
        if os.path.exists(os.path.join(d, key + ".failed")):
            return None, None
        for path in glob.glob(pattern + "part"):
            if _alive(int(path.split(".")[-2])):
                return None, None
            os.remove(path)
        part = os.path.join(d, f"{key}.{os.getpid()}.part")
        open(part, "x").close()
        return None, part
    except (OSError, ValueError):
        return None, None


def _cds_launch(spark_home: str) -> tuple[str, str, str | None] | None:
    """(driver java options, the empty conf dir ``cds/conf`` to launch
    with, the part file it records into or None), or None to launch
    without class-data sharing."""
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(spark_home, "conf"))
    try:
        kept = [n for n in os.listdir(conf_dir)
                if not n.endswith(".template")]
    except OSError:
        kept = []
    if kept:
        logging.getLogger(__name__).warning(
            "driver JVM starts without a class-data-sharing archive: "
            "conf dir %s holds %s", conf_dir, kept[0])
        return None
    d = _cds_dir()
    archive, part = _archive_or_claim(d, _cds_key(spark_home))
    if archive:
        opts = f'"-XX:SharedArchiveFile={archive}" -Xshare:auto'
    elif part:
        opts = f'"-XX:ArchiveClassesAtExit={part}"'
    else:
        return None
    return f"{opts} {_CDS_QUIET}", os.path.join(d, "conf"), part


def _publish_at_exit(proc: subprocess.Popen, part: str) -> None:
    """Let the driver JVM exit (the gateway exits when its stdin
    closes), wait while it writes ``part``, then publish ``part`` as
    the archive if the JVM exited cleanly. A JVM killed by a signal
    leaves nothing, and the next session records again."""
    from pyspark import SparkContext

    if proc.poll() is None:
        # a JVM that exits under a live context breaks the connection
        # of Python's accumulator server, which prints a traceback
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc.stdin.close()
        try:
            proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    base = part.rsplit(".", 2)[0]  # <dir>/<key>
    try:
        size = os.path.getsize(part)
        if proc.returncode == 0 and size > 0:
            os.replace(part, f"{base}.{size}.jsa")
            return
        if proc.returncode >= 0:
            open(base + ".failed", "w").close()
        os.remove(part)
    except OSError:
        pass


def _start_driver(conf: dict[str, str]) -> None:
    """Start the driver JVM with ``conf`` (driver memory must be set at
    launch) unless one runs already, with the class-data-sharing
    archive when it applies."""
    from pyspark import SparkConf, SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None:
        return
    launch, cds = dict(conf), None
    if "PYSPARK_GATEWAY_PORT" not in os.environ:  # else spark-submit's JVM
        cds = _cds_launch(_find_spark_home())
    saved = os.environ.get("SPARK_CONF_DIR")
    part = None
    if cds:
        opts, conf_dir, part = cds
        os.environ["SPARK_CONF_DIR"] = conf_dir
        key = "spark.driver.defaultJavaOptions"
        # the caller's options come last, so their -Xshare wins
        launch[key] = " ".join(o for o in (opts, conf.get(key)) if o)
    try:
        SparkContext._ensure_initialized(
            conf=SparkConf().setAll(launch.items()))
    except BaseException:
        if part:
            os.remove(part)
        raise
    finally:
        if cds:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    if part:
        atexit.register(_publish_at_exit, SparkContext._gateway.proc, part)


def _launch_master() -> str:
    """The master for ``get_spark(master=None)``, read from the running
    driver JVM's launch conf. spark-submit fills in ``local[*]`` when
    the launch names no master, so that value reads as unset and
    ``SPARK_GRAFT_CPUS`` applies over it."""
    from pyspark import SparkConf

    launched = SparkConf().get("spark.master", None)
    if launched and launched != "local[*]":
        return launched
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(app_name: str = "etl_tool_rep_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session. With ``master=None`` the launch
    conf's master wins (spark-submit ``--master`` or ``--conf
    spark.master``, ``PYSPARK_SUBMIT_ARGS``, spark-defaults), else
    ``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``; on a cluster leave
    None and let spark-submit decide. The shuffle width is the master's
    core count (``defaultParallelism``) unless ``extra_conf`` or the
    launch conf (spark-submit ``--conf``) sets one.

    A call that starts the driver JVM gives it the class-data-sharing
    archive (module docstring) through ``spark.driver.defaultJavaOptions``
    ahead of any value ``extra_conf`` sets there, or records the
    archive when there is none. No CDS applies when the JVM runs
    already, when spark-submit started it, or when the conf dir holds
    more than templates. Executors get no archive."""
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    _start_driver(conf if master is None
                  else {**conf, "spark.master": master})
    if master is None:
        master = _launch_master()
    builder = SparkSession.builder.appName(app_name).master(master)
    if master.startswith("local"):
        # Python workers import the package from wherever the driver
        # runs; on a cluster it ships with --py-files instead.
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(
            p for p in (conf.get(key), _PACKAGE_ROOT) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    width = "spark.sql.shuffle.partitions"
    if width not in conf and not sc.getConf().contains(width):
        spark.conf.set(width, str(sc.defaultParallelism))
    return spark


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once and cut its lineage — the one place the
    engine chooses between Spark's two checkpoint kinds.

    Durability follows the SparkContext: when it has a checkpoint
    directory (``spark.checkpoint.dir`` at startup, or
    ``setCheckpointDir``) the pin is a reliable ``checkpoint()`` whose
    blocks survive executor loss; otherwise it is a
    ``localCheckpoint()`` that keeps blocks on the executors only —
    fine for local mode, fatal to the lineage on a cluster that loses
    one. Results are the same either way.

    When to pin (measured over the r14 repeated-scan census): pin TINY
    frames that sit over EXPENSIVE subtrees and feed several
    consumers; never pin a full-data frame — materializing the whole
    table to save one re-plan lost every A/B (0.76-0.95x).

    ``eager=False`` defers the write to the frame's first action. A
    lazy reliable checkpoint then computes its input twice: once for
    that action and once more to write the checkpoint files."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def local_frame(spark: SparkSession, rows,
                schema: StructType | str) -> DataFrame:
    """A driver-built frame (``rows`` of tuples, lists, dicts or
    ``Row``s under ``schema``, a ``StructType`` or DDL string) as a
    JVM local relation — the one way the engine hands small driver
    tables back to Spark.

    ``spark.createDataFrame(list, schema)`` plans as ``Scan
    ExistingRDD`` over a pickled Python RDD, so every job that reads
    it starts Python workers to unpickle the rows. Here the rows
    become one ``pyarrow.Table`` typed by Spark's own Arrow mapping
    of ``schema``, which plans as a ``LocalTableScan``: no Python
    worker, no pickling. Measured on a 4-core host: a 512-row frame
    plus a noop write 0.37-0.40 s -> 0.08-0.11 s; bfs_distances at
    sf0.1 (its seed row sits in every round's union lineage) 7.21 ->
    5.07 s median, mmr_exact 2.26 -> 1.86 s.

    Values mean what they mean on the list path: each row goes
    through ``schema.toInternal`` first (positional tuples, dicts by
    name, naive datetimes in the process's local time zone), and the
    schema, nullability included, is the one given."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type)
         for i, f in enumerate(arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
