"""SparkSession factory.

Defaults are chosen for correctness-stable, scale-ready execution:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (hash-stable timestamps vs the
DuckDB oracle), Arrow transfer for the Pandas-UDF slow path.

On a real cluster the same factory applies; only master/memory come
from the environment (spark-submit), never hardcoded here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def _shuffle_width_default() -> int:
    """Shuffle width tracks the declared core count (floor 16).
    Tolerates a non-numeric SPARK_GRAFT_CPUS instead of failing every
    import with a bare ValueError (r13 ADVICE)."""
    try:
        return max(int(os.environ.get("SPARK_GRAFT_CPUS", "32") or "32"),
                   16)
    except ValueError:
        return 32


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
    # r13: scale-adaptive instead of a hard-coded 32 — follow the
    # provisioned core count when the harness declares it (the
    # driver benches at several core counts; shuffle width should
    # track them), floor 16 so tiny-core runs keep AQE coalescing
    # headroom, and the 32 default stands elsewhere. On a cluster,
    # override via spark-submit --conf (partitions should then track
    # data volume, not this local heuristic).
    "spark.sql.shuffle.partitions": str(_shuffle_width_default()),
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
    # re-measures the watermark plateau under RocksDB. Override with
    # SPARK_GRAFT_STATE_STORE=hdfs to compare providers.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
        if os.environ.get("SPARK_GRAFT_STATE_STORE") == "hdfs" else
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"),
}


def get_spark(app_name: str = "etl_tool_rep_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session. ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` locally; on a cluster leave None and
    let spark-submit decide."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    if master.startswith("local"):
        # Python workers import the package from wherever the driver
        # runs; on a cluster it ships with --py-files instead.
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(
            p for p in (conf.get(key), _PACKAGE_ROOT) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
