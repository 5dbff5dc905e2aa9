"""Tier 41 — round-9 additions.

1. `lakehouse_zorder_typed` — round-8 verdict item #2: the z-order
   writer now maps DateType through epoch days and strings through an
   ordered bounded dictionary before the Morton interleave, so the
   commonest 100 TB cluster key — (date, category-string) — actually
   steers the curve. This key proves it behind the oracle gate: write
   orders z-clustered on (order date, order priority), answer a 2-D
   (date-range x priority) rectangle through the stats-pruned scan,
   and assert the scan opened under half the files.

2. `incremental_dedup_retire` — round-8 verdict item #6: the standing
   MinHash band index (`incremental_minhash_dedup`, tier 40) proved
   append+probe; a real standing index also needs RETIREMENT (dropped
   documents leave the index) and bucket compaction, without breaking
   idempotent replay. Here a retirement batch is `delete_where`'d out
   of the persisted band `LakeTable` (replayed once — version must
   not advance), the index is compacted (rows unchanged), the new
   batch appends and probes — and the DuckDB oracle recomputes every
   verdict FROM SCRATCH on the post-delete corpus. One leaked bucket
   row from a retired doc and the candidate counts (and the hash)
   change.

No counterpart in the reference (/root/reference/main.py implements
only Direct Map / Conditional / Lookup rules over pandas frames);
both keys extend the lakehouse + dedup families SURVEY.md §2.2
declares for the 100 TB training-data pipeline.
"""

from __future__ import annotations

import datetime
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..session import local_frame, pin
from ..sinks.lakehouse import LakeTable
from .registry import query
from .tier21 import (_BANDS, _MH_LIST_SQL, _PERMS, _ROWS, _SH_CTES,
                     _WORD_BASE, _P, _band_key_sql, _with_shingles)

# ---------------------------------------------------------------------------
# z-order over (date, string) cluster keys
# ---------------------------------------------------------------------------

_ZT_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
_ZT_LO, _ZT_HI = datetime.date(1996, 1, 1), datetime.date(1996, 3, 31)
_ZT_PRIO = "1-URGENT"


@query(
    "lakehouse_zorder_typed",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_ZT_CENTS}) AS BIGINT) AS sum_cents,
           CAST(MIN(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                AS BIGINT) AS min_day,
           CAST(MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                AS BIGINT) AS max_day,
           TRUE AS pruned
    FROM orders
    WHERE CAST(o_orderdate AS DATE)
            BETWEEN DATE '{_ZT_LO}' AND DATE '{_ZT_HI}'
      AND o_orderpriority = '{_ZT_PRIO}'
    """,
)
def lakehouse_zorder_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders as a LakeTable z-ordered on (o_orderdate::date,
    o_orderpriority::string) — a DATE and a STRING cluster key — then
    answer a (90-day range x one priority) rectangle through the
    stats-pruned `read_where` scan. The date maps through epoch days
    and the 5-value priority through the ordered dictionary
    (`sinks/lakehouse._z_scaled_cols`), both order-preserving, so
    per-file footer [min, max] stay tight on BOTH dimensions and the
    rectangle opens a fraction of the files; the `pruned` flag
    asserts under half. The oracle computes the same rectangle over
    the raw table — a bucket-mapping bug that misplaces one row
    fails the hash.

    Scale: (date, category) is THE fact-table layout at 100 TB
    (o_orderdate x priority, event-day x event-type); the write is
    one range exchange on the z value plus a bounded dictionary
    census, the read is manifest pruning + residual filter."""
    orders = (load(spark, sf_dir, "orders")
              .select(F.col("o_orderdate").cast("date").alias("odate"),
                      "o_orderpriority",
                      F.expr(_ZT_CENTS).alias("cents")))
    root = tempfile.mkdtemp(prefix="etl_zorder_typed_")
    try:
        t = LakeTable.create(spark, root, orders,
                             cluster_by=["odate", "o_orderpriority"],
                             num_files=16, cluster_mode="zorder")
        conds = [("odate", "between", (_ZT_LO, _ZT_HI)),
                 ("o_orderpriority", "=", _ZT_PRIO)]
        kept, total = t.pruned_files(conds)
        agg = (t.read_where(conds)
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.sum("cents").cast("bigint").alias("sum_cents"),
                    F.min(F.unix_date("odate")).cast("bigint")
                     .alias("min_day"),
                    F.max(F.unix_date("odate")).cast("bigint")
                     .alias("max_day"))
               .withColumn("pruned", F.lit(len(kept) * 2 < total)))
        rows = agg.collect()          # 1-row frame, bounded
        return local_frame(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# standing dedup index: retirement + compaction
# ---------------------------------------------------------------------------

_RET_ORACLE = f"""
    WITH {_SH_CTES}, mh AS (
      SELECT doc_id, [{_MH_LIST_SQL}] AS mh FROM sh
    ), bands AS (
      SELECT doc_id, t.b AS band,
             {_band_key_sql('mh', 't.b')} AS bkey
      FROM mh, (SELECT unnest(range({_BANDS})) AS b) t
    ), standing AS (
      SELECT doc_id, band, bkey FROM bands
      WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3
    ), newb AS (
      SELECT doc_id, band, bkey FROM bands WHERE doc_id % 5 = 0
    ), idx AS (
      SELECT * FROM standing UNION ALL SELECT * FROM newb
    ), cand AS (
      SELECT DISTINCT n.doc_id AS d, o.doc_id AS e
      FROM newb n JOIN idx o
        ON o.band = n.band AND o.bkey = n.bkey
       AND o.doc_id <> n.doc_id
    ), ver AS (
      SELECT c.d,
             (2 * len(list_intersect(sa.sh, sb.sh))
                >= len(sa.sh) + len(sb.sh)
                   - len(list_intersect(sa.sh, sb.sh)))
             AND (c.e % 5 <> 0 OR c.e < c.d) AS dup
      FROM cand c JOIN sh sa ON sa.doc_id = c.d
                  JOIN sh sb ON sb.doc_id = c.e
    ), perdoc AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_cand,
             CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup
      FROM ver GROUP BY d
    ), newdocs AS (
      SELECT doc_id AS d, source FROM sh WHERE doc_id % 5 = 0
    )
    SELECT nd.source,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN COALESCE(p.n_dup, 0) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(SUM(COALESCE(p.n_cand, 0)) AS BIGINT) AS sum_cand,
           CAST(SUM(CASE WHEN COALESCE(p.n_dup, 0) > 0
                         THEN nd.d ELSE 0 END) AS BIGINT) AS dup_id_sum,
           CAST((SELECT COUNT(*) FROM idx) AS BIGINT) AS n_index_rows,
           CAST(4 AS BIGINT) AS n_versions
    FROM newdocs nd LEFT JOIN perdoc p ON p.d = nd.d
    GROUP BY nd.source
"""


@query("incremental_dedup_retire", oracle=_RET_ORACLE)
def incremental_dedup_retire(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The DELETE half of the standing dedup index:

    1. standing docs' (doc_id, band, bkey) rows (docs with
       doc_id % 5 != 0) become a `LakeTable` — version 1;
    2. a RETIREMENT batch (standing docs with doc_id % 7 == 3) is
       `delete_where`'d out of the index — version 2 — and the same
       delete is REPLAYED with the same batch_id: the version must
       not advance (idempotent crash-retry for deletes, the same
       contract appends already carry);
    3. the index is COMPACTed (bin-packing small band files) —
       version 3, rows untouched;
    4. the new batch (doc_id % 5 == 0) APPENDs its bucket rows
       (replayed once — no-op) and probes the post-delete, compacted,
       appended index read back from disk — version 4;
    5. per-source keep/drop tallies + a dup-id checksum + the TOTAL
       index row count certify the result.

    The oracle recomputes all verdicts from scratch over the
    post-retirement corpus. A single band row leaked from a retired
    doc changes `sum_cand` (and possibly drops a new doc against a
    document no longer in the corpus); a row lost in compaction
    changes `n_index_rows` and the candidate set.

    Scale: `delete_where` is file-granular — one scan locates the
    files holding retired rows, only those rewrite, untouched band
    files carry by reference; `compact` rewrites only the small-file
    tail. Retirement cost tracks |retired| x collision width, never
    the standing corpus; the final frame is <= |sources| rows (the
    only driver materialization, plus two bounded scalars)."""
    docs = load(spark, sf_dir, "documents")
    sh = pin(_with_shingles(docs))

    def _perm_min(a: int, b: int):
        return F.array_min(F.transform(
            F.col("_sh"),
            lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P))))

    mh = F.array(*[_perm_min(a, b) for a, b in _PERMS])
    bkeys = []
    for b in range(_BANDS):
        acc = F.element_at("_mh", _ROWS * b + 1)
        for i in range(2, _ROWS + 1):
            acc = F.pmod(acc * F.lit(_WORD_BASE)
                         + F.element_at("_mh", _ROWS * b + i),
                         F.lit(_P))
        bkeys.append(acc)
    banded = (sh.withColumn("_mh", mh)
                .select("doc_id",
                        F.posexplode(F.array(*bkeys))
                         .alias("band", "bkey")))
    is_new = F.col("doc_id") % 5 == 0
    new_b = banded.filter(is_new)

    root = tempfile.mkdtemp(prefix="etl_dedup_retire_")
    try:
        t = LakeTable.create(spark, root, banded.filter(~is_new),
                             batch_id="index-base")
        retire = F.col("doc_id") % 7 == 3
        t.delete_where(retire, batch_id="retire-1")
        v_after_delete = t.version()
        t.delete_where(retire, batch_id="retire-1")   # replay: no-op
        assert t.version() == v_after_delete == 2, \
            "delete replay advanced the version"
        t.compact(batch_id="compact-1",
                  target_file_bytes=1 << 20)
        t.append(new_b, batch_id="batch-1")
        t.append(new_b, batch_id="batch-1")           # replay: no-op
        idx = t.snapshot()
        n_index = idx.count()                         # bounded scalar

        cand = (new_b.select(F.col("doc_id").alias("d"),
                             "band", "bkey")
                .join(idx, ["band", "bkey"])
                .filter(F.col("doc_id") != F.col("d"))
                .select("d", F.col("doc_id").alias("e"))
                .distinct())
        sa = sh.select(F.col("doc_id").alias("d"),
                       F.col("_sh").alias("_sa"))
        sb = sh.select(F.col("doc_id").alias("e"),
                       F.col("_sh").alias("_sb"))
        inter = F.size(F.array_intersect("_sa", "_sb"))
        dup = ((2 * inter >= F.size("_sa") + F.size("_sb") - inter)
               & ((F.col("e") % 5 != 0) | (F.col("e") < F.col("d"))))
        perdoc = (cand.join(sb, "e").join(sa, "d")
                  .groupBy("d")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"),
                       F.sum(F.when(dup, 1).otherwise(0))
                        .cast("bigint").alias("n_dup")))
        per = (sh.filter(is_new)
               .select(F.col("doc_id").alias("d"), "source")
               .join(perdoc, "d", "left")
               .fillna(0, ["n_cand", "n_dup"]))
        agg = (per.groupBy("source")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"),
                    F.sum(F.when(F.col("n_dup") > 0, 1).otherwise(0))
                     .cast("bigint").alias("n_dup_docs"),
                    F.sum("n_cand").cast("bigint").alias("sum_cand"),
                    F.sum(F.when(F.col("n_dup") > 0, F.col("d"))
                          .otherwise(0)).cast("bigint")
                     .alias("dup_id_sum"))
               .withColumn("n_index_rows",
                           F.lit(n_index).cast("bigint"))
               .withColumn("n_versions",
                           F.lit(t.version()).cast("bigint")))
        # bounded driver materialization (<= |sources| rows) so the
        # on-disk index can be cleaned up before returning
        rows = agg.collect()
        return local_frame(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
