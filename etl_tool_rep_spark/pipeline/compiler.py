"""Rule pipeline -> single Spark ``select`` compiler.

Reproduces the semantics of the reference's ``apply_rules_engine``
(reference main.py:130-176), Spark-first:

* Rules are independent — every rule reads the primary table, never a
  previous rule's output (main.py:146,154,169). One ``df.select`` of
  all compiled rule expressions reproduces this exactly; Catalyst
  prunes the scan to just the referenced input columns.
* Output contains ONLY rule columns, one row per input row
  (main.py:135-138).
* Lookup (main.py:159-171) is a string-coerced (both sides
  ``astype(str)``, main.py:168-169), last-duplicate-wins
  (``dict(zip(...))``, main.py:168), miss->NULL broadcast equi-join.
  Faithful Spark plan: dedup the mapping, read as one partition, with a
  row_number window over a load-order column (descending -> last wins;
  no shuffle), cast both keys to string, left join with an explicit
  ``F.broadcast`` hint. Mapping tables are small dimension tables by
  construction, so the broadcast never shuffles the fact table — at
  100 TB the probe side streams map-side only.
* Conditional (main.py:148-157) is ``CASE WHEN <expr> THEN lit
  ELSE lit END``; NULL-valued conditions fall to ELSE in both pandas
  eval and SQL (SURVEY.md §2.1 pt 6) — no special handling.
* Per-rule failure isolation (main.py:141,173-174): in
  ``permissive=True`` mode a rule that fails to compile/validate is
  dropped with a warning, matching the reference's per-rule
  try/except; default is strict (fail fast at compile time).
"""

from __future__ import annotations

import logging
from typing import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .expr import translate_expr
from .spec import ConditionalRule, DirectMapRule, LookupRule, Rule

log = logging.getLogger(__name__)

_ORDER_COL = "_src_order"


def with_load_order(mapping: DataFrame) -> DataFrame:
    """Attach a monotonically-increasing load-order column so "last
    occurrence" is well-defined under distribution.

    ``monotonically_increasing_id`` is increasing within a partition
    and partition ids follow file/split order, so for a mapping table
    read from parquet it reproduces pandas' file-order ``dict(zip)``
    last-wins semantics (SURVEY.md §2.1 pt 3)."""
    if _ORDER_COL in mapping.columns:
        return mapping
    return mapping.withColumn(_ORDER_COL, F.monotonically_increasing_id())


def dedup_last_wins(mapping: DataFrame, key_col: str,
                    val_col: str) -> DataFrame:
    """Keep the LAST row per string-coerced key — the reference's
    ``dict(zip(keys, vals))`` semantics (main.py:168). Plain
    ``dropDuplicates`` keeps an arbitrary row; this is deterministic.

    The mapping is read as one partition (``coalesce(1)`` keeps split
    order), which already satisfies the window's distribution: no
    shuffle. A Lookup broadcasts the result, so the mapping is bounded
    by the broadcast size and collected whole either way."""
    m = with_load_order(mapping.coalesce(1))
    key_str = F.col(key_col).cast("string").alias("_lk_key")
    w = Window.partitionBy("_lk_key").orderBy(F.col(_ORDER_COL).desc())
    return (m.select(key_str, F.col(val_col).alias("_lk_val"),
                     F.col(_ORDER_COL))
             .withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1)
             .select("_lk_key", "_lk_val"))


def compile_rule_column(rule: Rule) -> Column:
    """Compile a non-Lookup rule to a Column over the primary table."""
    if isinstance(rule, DirectMapRule):
        return F.col(rule.source).alias(rule.name)
    if isinstance(rule, ConditionalRule):
        cond = F.expr(translate_expr(rule.expression, "spark"))
        # then/else are LITERALS from the UI text inputs — output is
        # always the literal's type (string in the reference's UI,
        # main.py:155,387-389).
        return (F.when(cond, F.lit(rule.then))
                 .otherwise(F.lit(rule.else_))
                 .alias(rule.name))
    raise TypeError(f"not a column rule: {rule!r}")


def compile_pipeline(df: DataFrame, rules: list[Rule],
                     mappings: Mapping[str, DataFrame],
                     permissive: bool = False) -> DataFrame:
    """Compile the whole rule list into one joined+selected DataFrame.

    Lookups become broadcast left joins attached before the final
    select; everything else is a pure Column expression. The result has
    exactly the rule output columns (reference main.py:135-138).
    """
    out_cols: list[Column | str] = []
    work = df
    n_lookups = 0
    for rule in rules:
        try:
            if isinstance(rule, LookupRule):
                if rule.map_name not in mappings:
                    raise KeyError(f"unknown mapping table {rule.map_name!r}")
                mapping = mappings[rule.map_name]
                for c in (rule.key_col, rule.val_col):
                    if c not in mapping.columns:
                        raise KeyError(
                            f"mapping {rule.map_name!r} has no column {c!r}")
                if rule.in_col not in df.columns:
                    raise KeyError(f"primary table has no column "
                                   f"{rule.in_col!r}")
                lk = dedup_last_wins(mapping, rule.key_col, rule.val_col)
                key_alias = f"_lk{n_lookups}_key"
                val_alias = f"_lk{n_lookups}_val"
                lk = lk.select(F.col("_lk_key").alias(key_alias),
                               F.col("_lk_val").alias(val_alias))
                n_lookups += 1
                work = work.join(
                    F.broadcast(lk),
                    work[rule.in_col].cast("string") == lk[key_alias],
                    "left").drop(key_alias)
                out_cols.append(F.col(val_alias).alias(rule.name))
            else:
                # validate eagerly for failure isolation: a bad
                # Conditional expression (unknown column, syntax)
                # must fail HERE, inside the per-rule try, not at the
                # final select — df.select() analyzes immediately.
                col = compile_rule_column(rule)
                if isinstance(rule, DirectMapRule) \
                        and rule.source not in df.columns:
                    raise KeyError(f"primary table has no column "
                                   f"{rule.source!r}")
                if isinstance(rule, ConditionalRule):
                    df.select(col)  # analysis-only; no execution
                out_cols.append(col)
        except Exception as exc:  # noqa: BLE001 — per-rule isolation
            if not permissive:
                raise
            log.warning("rule %r skipped: %s", getattr(rule, "name", rule),
                        exc)
    return work.select(*out_cols)
