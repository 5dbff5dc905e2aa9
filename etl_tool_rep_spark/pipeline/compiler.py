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
  Faithful Spark plan: read the mapping as one partition and keep,
  per key, ``max_by(value, load order)`` (last wins; no window, no
  shuffle), then left join with an explicit ``F.broadcast`` hint.
  Keys compare in their own family where string coercion cannot
  change the result: integral vs integral as ``bigint``, string vs
  string as is (int -> string is injective and keeps equality); any
  other pair casts both sides to string, so DOUBLE 1.0 still misses
  key '1' (SURVEY.md §2.1 pt 5). Mapping tables are small dimension
  tables by construction, so the broadcast never shuffles the fact
  table — at 100 TB the probe side streams map-side only.
* Conditional (main.py:148-157) is ``CASE WHEN <expr> THEN lit
  ELSE lit END``; NULL-valued conditions fall to ELSE in both pandas
  eval and SQL (SURVEY.md §2.1 pt 6) — no special handling.
* Per-rule failure isolation (main.py:141,173-174): in
  ``permissive=True`` mode a rule that fails to compile/validate is
  dropped with a warning, matching the reference's per-rule
  try/except (each Conditional is analyzed against the primary on
  its own). Default is strict: fail fast at compile time, where the
  select over the primary analyzes every rule at once.
"""

from __future__ import annotations

import logging
from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ByteType, DataType, IntegerType, LongType,
                               ShortType, StringType)

from .expr import translate_expr
from .spec import ConditionalRule, DirectMapRule, LookupRule, Rule

log = logging.getLogger(__name__)

_ORDER_COL = "_src_order"
_INTEGRAL = (ByteType, IntegerType, LongType, ShortType)


def key_type(a: DataType, b: DataType) -> str | None:
    """The type both sides of a Lookup key compare as: ``bigint`` for
    two integral types, None (as is) for two plain strings, else
    ``string`` — the reference's ``astype(str)`` on both sides. In the
    first two families the cast to string is injective and keeps
    equality, so skipping it changes no match."""
    if isinstance(a, _INTEGRAL) and isinstance(b, _INTEGRAL):
        return "bigint"
    if a == StringType() and b == StringType():
        return None
    return "string"


def _as_key(col: Column, cast: str | None) -> Column:
    return col if cast is None else col.cast(cast)


def dedup_last_wins(mapping: DataFrame, key: Column, val_col: str,
                    key_name: str, val_name: str) -> DataFrame:
    """``(key_name, val_name)``: the LAST row's value per ``key`` — the
    reference's ``dict(zip(keys, vals))`` semantics (main.py:168).
    Plain ``dropDuplicates`` keeps an arbitrary row; this is
    deterministic.

    "Last" is the mapping's own ``_src_order`` column when it has one,
    else ``monotonically_increasing_id`` over the mapping read as one
    partition: ``coalesce(1)`` keeps split order, so the id follows
    file order (SURVEY.md §2.1 pt 3). One partition also satisfies the
    aggregate's distribution: no shuffle. A Lookup broadcasts the
    result, so the mapping is bounded by the broadcast size and
    collected whole either way. ``max_by`` keeps a NULL value of the
    last row, as ``dict`` does."""
    m = mapping.coalesce(1)
    order = (F.col(_ORDER_COL) if _ORDER_COL in mapping.columns
             else F.monotonically_increasing_id())
    return (m.select(key.alias(key_name), F.col(val_col).alias(val_name),
                     order.alias("_lk_order"))
             .groupBy(key_name)
             .agg(F.max_by(val_name, "_lk_order").alias(val_name)))


def compile_rule_column(rule: Rule) -> Column:
    """Compile a non-Lookup rule to an unnamed Column over the primary
    table."""
    if isinstance(rule, DirectMapRule):
        return F.col(rule.source)
    if isinstance(rule, ConditionalRule):
        cond = F.expr(translate_expr(rule.expression, "spark"))
        # then/else are LITERALS from the UI text inputs — output is
        # always the literal's type (string in the reference's UI,
        # main.py:155,387-389).
        return F.when(cond, F.lit(rule.then)).otherwise(F.lit(rule.else_))
    raise TypeError(f"not a column rule: {rule!r}")


def _types(df: DataFrame) -> dict[str, DataType]:
    return {f.name: f.dataType for f in df.schema.fields}


def compile_pipeline(df: DataFrame, rules: list[Rule],
                     mappings: Mapping[str, DataFrame],
                     permissive: bool = False) -> DataFrame:
    """Compile the whole rule list into one joined+selected DataFrame.

    One select over the primary evaluates every non-Lookup rule and
    every Lookup's probe key, then names them by position (``_r<i>``,
    ``_p<i>``). Its list holds no alias, so no rule can reach another
    rule's output through a lateral column alias: a rule names primary
    columns only, and strict mode raises on a bad rule right there, at
    compile time. Lookups attach as broadcast left joins (``_k<i>`` =
    ``_p<i>``, value ``_r<i>``), and the final select renames the rule
    columns, in rule order. The result has exactly the rule output
    columns (reference main.py:135-138). Existence checks and key
    types read each input's schema, which PySpark fetches once per
    DataFrame.
    """
    types = _types(df)
    cols: list[Column] = []
    internal: list[str] = []
    lookups: list[tuple[int, DataFrame]] = []
    names: list[str] = []
    for rule in rules:
        i = len(names)
        try:
            if isinstance(rule, LookupRule):
                if rule.map_name not in mappings:
                    raise KeyError(f"unknown mapping table {rule.map_name!r}")
                mapping = mappings[rule.map_name]
                mtypes = _types(mapping)
                for c in (rule.key_col, rule.val_col):
                    if c not in mtypes:
                        raise KeyError(
                            f"mapping {rule.map_name!r} has no column {c!r}")
                if rule.in_col not in types:
                    raise KeyError(f"primary table has no column "
                                   f"{rule.in_col!r}")
                cast = key_type(types[rule.in_col], mtypes[rule.key_col])
                lookups.append((i, dedup_last_wins(
                    mapping, _as_key(F.col(rule.key_col), cast),
                    rule.val_col, f"_k{i}", f"_r{i}")))
                cols.append(_as_key(F.col(rule.in_col), cast))
                internal.append(f"_p{i}")
            else:
                col = compile_rule_column(rule)
                if isinstance(rule, DirectMapRule) \
                        and rule.source not in types:
                    raise KeyError(f"primary table has no column "
                                   f"{rule.source!r}")
                if permissive and isinstance(rule, ConditionalRule):
                    # isolate a bad expression (unknown column, type)
                    # to its own rule; strict mode leaves it to the
                    # select below, which analyzes every rule at once
                    df.select(col)
                cols.append(col)
                internal.append(f"_r{i}")
            names.append(rule.name)
        except Exception as exc:  # noqa: BLE001 — per-rule isolation
            if not permissive:
                raise
            log.warning("rule %r skipped: %s", getattr(rule, "name", rule),
                        exc)
    work = df.select(*cols).toDF(*internal)
    for i, lk in lookups:
        work = work.join(F.broadcast(lk), F.col(f"_p{i}") == F.col(f"_k{i}"),
                         "left")
    return work.select(*[F.col(f"_r{i}").alias(n)
                         for i, n in enumerate(names)])
