"""Table catalog over the driver's parquet corpus.

The reference keeps a ``dict[str, DataFrame]`` "data inventory" of
eagerly-loaded pandas frames (reference main.py:240,254,272). Here the
catalog is lazy: each name maps to a parquet scan whose filters and
column pruning Catalyst pushes into the reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# Columns written by the corpus generator with parquet TIMESTAMP(NANOS),
# which Spark's vectorized reader rejects; with
# spark.sql.legacy.parquet.nanosAsLong they arrive as nanos-since-epoch
# BIGINT and are normalized back to TimestampType here (integer div —
# a double division would lose precision at 1e18 nanos).
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table (nanos-timestamp normalized)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType,
                                            T.LongType):
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df
