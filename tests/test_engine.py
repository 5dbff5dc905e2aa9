"""End-to-end workflow parity: the reference user journey (upload ->
rules -> run -> export) through the ETLEngine facade."""

import os

import pytest
from pyspark.errors import AnalysisException

from etl_tool_rep_spark.engine import ETLEngine
from etl_tool_rep_spark.sources import smart_load

PIPELINE_JSON = """
[
  {"name": "CustomerName", "type": "Lookup", "map_name": "customer_mapping",
   "in_col": "cust_id", "key_col": "id", "val_col": "name"},
  {"name": "Priority", "type": "Conditional",
   "expression": "(`amount` > 1000)", "then": "VIP", "else": "Regular"},
  {"name": "OrderAmount", "type": "Direct Map", "source": "amount"}
]
"""


@pytest.fixture(scope="module")
def workdir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("engine")
    (d / "orders_main.csv").write_text(
        "row_id,cust_id,amount,status\n"
        "1,1,1500.5,Active\n"
        "2,2,800.0,Inactive\n"
        "3,99,2000.0,Active\n"
        "4,1,,Active\n")
    (d / "customer_mapping.csv").write_text(
        "id,name\n1,Alice\n2,Bob\n1,Alicia\n")  # dup key: last wins
    return d


def test_full_workflow(spark, workdir):
    eng = ETLEngine(spark)
    eng.add_file(str(workdir / "orders_main.csv"))
    eng.add_mapping_file(str(workdir / "customer_mapping.csv"))
    eng.set_primary("orders_main")
    assert eng.columns() == ["row_id", "cust_id", "amount", "status"]

    eng.import_pipeline_json(PIPELINE_JSON)
    result = eng.run()
    rows = {r["OrderAmount"]: r for r in result.collect()}
    assert result.columns == ["CustomerName", "Priority", "OrderAmount"]
    assert rows[1500.5]["CustomerName"] == "Alicia"   # last wins
    assert rows[1500.5]["Priority"] == "VIP"
    assert rows[2000.0]["CustomerName"] is None       # unmapped
    assert rows[None]["Priority"] == "Regular"        # NULL -> else

    out = str(workdir / "export")
    eng.export_csv(result, out)
    part = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(part) == 1
    back = smart_load(spark, os.path.join(out, part[0]))
    assert back.count() == 4

    # round-trip pipeline export
    eng2 = ETLEngine(spark)
    eng2.import_pipeline_json(eng.export_pipeline_json())
    assert eng2.rules == eng.rules


def test_engine_errors(spark, workdir):
    eng = ETLEngine(spark)
    with pytest.raises(RuntimeError, match="no primary"):
        eng.run()
    with pytest.raises(KeyError):
        eng.set_primary("nope")


def test_missing_file_fails_at_first_use(spark, workdir):
    """Loads run in the background: add_file returns, and the first
    call that needs the table raises the load's own error."""
    eng = ETLEngine(spark)
    eng.set_primary(eng.add_file(str(workdir / "nope.csv")))
    eng.add_mapping_file(str(workdir / "customer_mapping.csv"))
    eng.import_pipeline_json(PIPELINE_JSON)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        eng.run()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        eng.data_inventory
    assert list(eng.mapping_dfs) == ["customer_mapping"]


def _load(spark, d) -> ETLEngine:
    eng = ETLEngine(spark)
    eng.set_primary(eng.add_file(str(d / "orders_main.csv")))
    eng.add_mapping_file(str(d / "customer_mapping.csv"))
    # wait for both background loads
    assert eng.columns() == ["row_id", "cust_id", "amount", "status"]
    assert list(eng.mapping_dfs) == ["customer_mapping"]
    return eng


def test_loads_run_in_caller_job_group(spark, workdir, tmp_path,
                                       group_jobs):
    """A first load of each CSV runs its two schema-inference jobs in
    the caller's job group; a second engine loading the unchanged
    files reuses their schemas and runs none."""
    for f in ("orders_main.csv", "customer_mapping.csv"):
        (tmp_path / f).write_bytes((workdir / f).read_bytes())
    _, cold = group_jobs("engine-loads", lambda: _load(spark, tmp_path))
    warm, jobs = group_jobs("engine-loads-warm",
                            lambda: _load(spark, tmp_path))
    assert (cold, jobs) == (4, 0)
    assert warm.primary().count() == 4


def test_add_dataframe_add_rule_preview(spark):
    """The in-memory side of the facade: frames added without a file,
    a rule appended one at a time, and the display truncation of
    ``result_df.head(100)`` (reference main.py:433)."""
    eng = ETLEngine(spark)
    orders = spark.createDataFrame([(i, i % 3) for i in range(5)],
                                   "row_id long, cust_id long")
    names = spark.createDataFrame([(0, "Ann"), (1, "Bo")],
                                  "id long, name string")
    eng.add_dataframe("orders", orders)
    eng.add_dataframe("names", names, mapping=True)
    assert list(eng.data_inventory) == ["orders"]
    assert list(eng.mapping_dfs) == ["names"]
    eng.set_primary("orders")

    eng.add_rule({"name": "Name", "type": "Lookup", "map_name": "names",
                  "in_col": "cust_id", "key_col": "id",
                  "val_col": "name"})
    eng.add_rule({"name": "Row", "type": "Direct Map",
                  "source": "row_id"})
    assert len(eng.rules) == 2
    result = eng.run()
    assert result.columns == ["Name", "Row"]
    assert {(r["Row"], r["Name"]) for r in result.collect()} == {
        (0, "Ann"), (1, "Bo"), (2, None), (3, "Ann"), (4, "Bo")}

    assert len(eng.preview(result, 3)) == 3
    assert len(eng.preview(result)) == 5  # fewer rows than the cap
