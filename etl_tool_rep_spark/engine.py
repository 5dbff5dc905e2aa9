"""ETLEngine — the reference's end-user workflow as a programmatic
facade (reference main.py EP1/EP2/EP3, SURVEY.md §3):

    upload files -> pick a primary table -> build/import rules ->
    run -> export.

A user of the reference tool maps 1:1 onto this API:

    eng = ETLEngine(spark)
    eng.add_file("orders.csv")                    # data inventory
    eng.add_mapping_file("customer_mapping.csv")  # mapping tables
    eng.set_primary("orders")
    eng.import_pipeline_json(open("rules.json").read())
    result = eng.run()                            # compiled select
    eng.export_csv(result, "out/")                # download parity

Unlike the reference (eager pandas in session RAM, main.py:190), the
inventory is lazy DataFrames — nothing materializes until run/export.
The one eager step of a load, CSV schema inference, is two Spark jobs
on the first load of a file version; a repeat load of the unchanged
file (the same upload read again) reuses its schema and runs none.
Loads run in a background thread: ``add_file`` and
``add_mapping_file`` return at once and the loads of several uploads
overlap. The first call that needs a table (``primary``, ``columns``,
``run``, ``data_inventory``, ``mapping_dfs``) waits for its load and
raises its load error, if any.
"""

from __future__ import annotations

import os
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from .pipeline import compile_pipeline, parse_pipeline
from .pipeline.spec import Rule, export_pipeline
from .sinks import write_csv
from .sources import smart_load

# Shared by every engine. A load carries the caller's job group, local
# properties and job tags, so its jobs are attributed to the caller.
_LOADS = ThreadPoolExecutor(thread_name_prefix="etl-load")


def _done(df: DataFrame) -> Future:
    f: Future = Future()
    f.set_result(df)
    return f


class ETLEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._inventory: dict[str, Future] = {}
        self._mappings: dict[str, Future] = {}
        self.rules: list[Rule] = []
        self._primary: str | None = None

    # -- inventory (reference main.py:240-305) --------------------------
    def _load(self, path: str) -> Future:
        return _LOADS.submit(
            inheritable_thread_target(self.spark)(smart_load),
            self.spark, path)

    def add_file(self, path: str, name: str | None = None) -> str:
        name = name or os.path.splitext(os.path.basename(path))[0]
        self._inventory[name] = self._load(path)
        return name

    def add_mapping_file(self, path: str, name: str | None = None) -> str:
        """Mapping tables are keyed by file stem (main.py:286-288)."""
        name = name or os.path.splitext(os.path.basename(path))[0]
        self._mappings[name] = self._load(path)
        return name

    def add_dataframe(self, name: str, df: DataFrame,
                      mapping: bool = False) -> None:
        (self._mappings if mapping else self._inventory)[name] = _done(df)

    @property
    def data_inventory(self) -> dict[str, DataFrame]:
        return {k: f.result() for k, f in self._inventory.items()}

    @property
    def mapping_dfs(self) -> dict[str, DataFrame]:
        return {k: f.result() for k, f in self._mappings.items()}

    def set_primary(self, name: str) -> None:
        if name not in self._inventory:
            raise KeyError(f"{name!r} not in data inventory "
                           f"({sorted(self._inventory)})")
        self._primary = name

    def columns(self) -> list[str]:
        """Schema introspection for rule building (main.py:321)."""
        return self.primary().columns

    def primary(self) -> DataFrame:
        if self._primary is None:
            raise RuntimeError("no primary table selected")
        return self._inventory[self._primary].result()

    # -- pipeline (reference main.py:327-412) ---------------------------
    def import_pipeline_json(self, spec) -> None:
        """Accepts both pipeline schemas (SURVEY.md §2.1 pt 8)."""
        self.rules = parse_pipeline(spec)

    def export_pipeline_json(self) -> str:
        return export_pipeline(self.rules)

    def add_rule(self, rule: dict) -> None:
        self.rules.extend(parse_pipeline([rule]))

    # -- execution (reference main.py:427-430) --------------------------
    def run(self, permissive: bool = False) -> DataFrame:
        return compile_pipeline(self.primary(), self.rules,
                                self.mapping_dfs, permissive=permissive)

    # -- export (reference main.py:439-458) -----------------------------
    def export_csv(self, df: DataFrame, path: str,
                   single_file: bool = True) -> None:
        write_csv(df, path, single_file=single_file)

    def preview(self, df: DataFrame, n: int = 100) -> list:
        """Display truncation parity (result_df.head(100),
        main.py:433) — deterministic only if the plan is ordered."""
        return df.limit(n).collect()
