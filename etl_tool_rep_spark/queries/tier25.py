"""Tier 25 — transactional lakehouse MERGE behind the exact oracle.

Round-4 verdict item #2: MERGE as a TABLE operation, not a recompute
plan. The query drives the full `sinks/lakehouse.LakeTable` protocol —
create, two merges, an idempotent replay, a delete — through real
atomic manifest commits on disk, then hash-matches the final table
state against DuckDB's independent replay of the same change batches
as pure SQL (full-outer-join merge semantics, COALESCE pattern).

What the hash certifies: snapshot isolation bookkeeping (the final
manifest's file list IS the table), MERGE row semantics (updates win,
survivors stay, new keys insert), idempotent replay (the duplicate
batch must change nothing), and DELETE. The version column pins the
commit count: create + merge + (replayed no-op) + merge + delete = 4
commits — a replay that wrote a 5th snapshot would fail the hash.

All money math goes through cents = FLOOR(price*100 + 0.5) as BIGINT
(identical text in both engines) so the gate is integer-exact.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..session import local_frame
from ..sinks.lakehouse import LakeTable
from .registry import query

_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"

_ORACLE = f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             {_CENTS} AS cents, o_orderpriority AS prio
      FROM orders WHERE o_orderkey % 4 <> 3
    ), u1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             {_CENTS} + 1111 AS cents, 'MERGED-1' AS prio
      FROM orders WHERE o_orderkey % 10 IN (1, 3)
    ), m1 AS (
      SELECT COALESCE(u.k, b.k) AS k,
             CASE WHEN u.k IS NOT NULL THEN u.status ELSE b.status END
                 AS status,
             CASE WHEN u.k IS NOT NULL THEN u.cents ELSE b.cents END
                 AS cents,
             CASE WHEN u.k IS NOT NULL THEN u.prio ELSE b.prio END
                 AS prio
      FROM base b FULL OUTER JOIN u1 u ON b.k = u.k
    ), u2 AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             {_CENTS} * 2 - 500 AS cents, 'MERGED-2' AS prio
      FROM orders WHERE o_orderkey % 10 IN (3, 7)
    ), m2 AS (
      SELECT COALESCE(u.k, m.k) AS k,
             CASE WHEN u.k IS NOT NULL THEN u.status ELSE m.status END
                 AS status,
             CASE WHEN u.k IS NOT NULL THEN u.cents ELSE m.cents END
                 AS cents,
             CASE WHEN u.k IS NOT NULL THEN u.prio ELSE m.prio END
                 AS prio
      FROM m1 m FULL OUTER JOIN u2 u ON m.k = u.k
    ), final AS (
      SELECT * FROM m2 WHERE k % 100 <> 42
    )
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key,
           CAST(4 AS BIGINT) AS n_versions
    FROM final GROUP BY prio
"""


@query("lakehouse_merge", oracle=_ORACLE)
def lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create a snapshot-versioned table from an orders slice, apply
    two MERGE batches (the first replayed once to prove idempotence)
    and a DELETE through atomic manifest commits, then aggregate the
    final snapshot. The oracle replays the batches as pure SQL."""
    orders = load(spark, sf_dir, "orders")

    def batch(where: str, cents_expr: str, prio: str) -> DataFrame:
        return (orders.filter(F.expr(where))
                .select(F.col("o_orderkey").alias("k"),
                        F.col("o_orderstatus").alias("status"),
                        F.expr(cents_expr).alias("cents"),
                        F.lit(prio).alias("prio")))

    root = tempfile.mkdtemp(prefix="etl_lakehouse_merge_")
    try:
        base = (orders.filter(F.expr("o_orderkey % 4 <> 3"))
                .select(F.col("o_orderkey").alias("k"),
                        F.col("o_orderstatus").alias("status"),
                        F.expr(_CENTS).alias("cents"),
                        F.col("o_orderpriority").alias("prio")))
        t = LakeTable.create(spark, root, base, batch_id="create")
        u1 = batch("o_orderkey % 10 IN (1, 3)", f"{_CENTS} + 1111",
                   "MERGED-1")
        t.merge(u1, "k", batch_id="b1")
        t.merge(u1, "k", batch_id="b1")      # idempotent replay: no-op
        u2 = batch("o_orderkey % 10 IN (3, 7)", f"{_CENTS} * 2 - 500",
                   "MERGED-2")
        t.merge(u2, "k", batch_id="b2")
        t.delete_where(F.expr("k % 100 = 42"), batch_id="b3")

        agg = (t.snapshot()
                .groupBy("prio")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.sum("cents").alias("sum_cents"),
                     F.min("k").alias("min_key"),
                     F.max("k").alias("max_key"))
                .withColumn("n_versions",
                            F.lit(t.version()).cast("bigint")))
        # bounded driver materialization (<= #priorities+2 rows, never
        # data-sized) so the on-disk table can be cleaned up before
        # returning — same boundedness class as the profile/centroid
        # collects audited in tools/explain_audit.py
        rows = agg.collect()
        return local_frame(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "lakehouse_compact",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, {_CENTS} AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ), extra AS (
      SELECT o_orderkey AS k, {_CENTS} AS cents
      FROM orders WHERE o_orderkey % 2 = 1
    ), final AS (
      SELECT * FROM base UNION ALL SELECT * FROM extra
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key,
           CAST(7 AS BIGINT) AS n_versions,
           TRUE AS files_shrank
    FROM final
    """,
)
def lakehouse_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction behind the exact gate: create a
    key-clustered table, accrete 5 small appends (each lands as new
    small files, zero rewrite), OPTIMIZE with ``compact()`` — which
    must bin-pack only the small files, carry right-sized ones by
    reference, and change NO rows — then replay the compact batch_id
    (idempotent no-op). The oracle replays the rows as pure SQL; the
    pinned version count (create + 5 appends + compact = 7) and the
    files_shrank flag certify the maintenance protocol itself."""
    orders = load(spark, sf_dir, "orders")

    def slice_df(where: str) -> DataFrame:
        return (orders.filter(F.expr(where))
                .select(F.col("o_orderkey").alias("k"),
                        F.expr(_CENTS).alias("cents")))

    root = tempfile.mkdtemp(prefix="etl_lakehouse_compact_")
    try:
        t = LakeTable.create(spark, root, slice_df("o_orderkey % 2 = 0"),
                             batch_id="create", cluster_by="k",
                             num_files=4)
        for i in range(5):
            t.append(slice_df(f"o_orderkey % 2 = 1 AND "
                              f"o_orderkey % 5 = {i}"),
                     batch_id=f"a{i}")
        n_files_before = len(t._manifest(t.version())["files"])
        v = t.compact(batch_id="opt", target_file_bytes=64 << 20)
        t.compact(batch_id="opt")            # idempotent replay: no-op
        n_files_after = len(t._manifest(t.version())["files"])
        agg = (t.snapshot()
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum("cents").alias("sum_cents"),
                    F.min("k").alias("min_key"),
                    F.max("k").alias("max_key"))
               .withColumn("n_versions",
                           F.lit(t.version()).cast("bigint"))
               .withColumn("files_shrank",
                           F.lit(bool(n_files_after < n_files_before))))
        rows = agg.collect()                 # 1 row, then cleanup
        return local_frame(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "lakehouse_read_skipping",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, {_CENTS} AS cents
      FROM orders
    ), hit AS (
      SELECT * FROM base WHERE k BETWEEN 1000 AND 2000
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key,
           TRUE AS files_skipped
    FROM hit
    """,
)
def lakehouse_read_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-path data skipping behind the exact gate (round-7 verdict
    item #7): create a key-clustered table (disjoint per-file ranges),
    then `read_where` a key range — the scan must OPEN only the files
    whose footer [min,max] intersects the range (files_skipped pins
    that fewer files were scanned than exist) while returning rows
    identical to a full-scan filter (the oracle's plain SQL). At
    100 TB this turns a table scan into a clustered range read.
    Reference capability match: none (the reference has no storage
    layer) — 100 TB mandate."""
    orders = load(spark, sf_dir, "orders")
    base = orders.select(F.col("o_orderkey").alias("k"),
                         F.expr(_CENTS).alias("cents"))

    root = tempfile.mkdtemp(prefix="etl_lakehouse_skip_")
    try:
        t = LakeTable.create(spark, root, base, batch_id="create",
                             cluster_by="k", num_files=16)
        conds = [("k", "between", (1000, 2000))]
        kept, total = t.pruned_files(conds)
        agg = (t.read_where(conds)
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum("cents").alias("sum_cents"),
                    F.min("k").alias("min_key"),
                    F.max("k").alias("max_key"))
               .withColumn("files_skipped",
                           F.lit(bool(len(kept) < total))))
        rows = agg.collect()                 # 1 row, then cleanup
        return local_frame(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
