"""Reference-semantics unit tests (SURVEY.md §5.2#2): each empirically
verified quirk of the reference engine (main.py:130-176) asserted
against hand-checked expected output."""

import json
import re

import pytest
from pyspark.errors import AnalysisException

from etl_tool_rep_spark.pipeline import (compile_pipeline, compiler,
                                         parse_pipeline, translate_expr)
from etl_tool_rep_spark.pipeline.spec import (ConditionalRule, DirectMapRule,
                                              LookupRule, export_pipeline)


@pytest.fixture(scope="module")
def main_df(spark):
    rows = [
        # row_id, cust_id, cust_id_f, amount, status
        (1, 1, 1.0, 1500.0, "Active"),
        (2, 2, 2.0, 800.0, "Active"),
        (3, 3, 3.0, 200.0, "Inactive"),
        (4, 99, 99.0, None, "Active"),      # unmapped key + NULL amount
        (5, None, None, 2000.0, None),      # NULL key + NULL status
    ]
    return spark.createDataFrame(
        rows, "row_id long, cust_id long, cust_id_f double, "
              "amount double, status string")


@pytest.fixture(scope="module")
def mapping_df(spark):
    # key 1 duplicated: later row must win (dict(zip) semantics)
    rows = [(1, "first"), (2, "two"), (3, "three"), (1, "second")]
    return spark.createDataFrame(rows, "id long, name string").coalesce(1)


def run(df, mappings, rules_json):
    out = compile_pipeline(df, parse_pipeline(rules_json), mappings)
    return [r.asDict() for r in out.collect()]


def test_last_wins_duplicate_keys(main_df, mapping_df):
    rows = run(main_df, {"m": mapping_df}, [
        {"name": "rid", "type": "Direct Map", "source": "row_id"},
        {"name": "nm", "type": "Lookup", "map_name": "m",
         "in_col": "cust_id", "key_col": "id", "val_col": "name"},
    ])
    by_rid = {r["rid"]: r["nm"] for r in rows}
    assert by_rid[1] == "second"  # last occurrence wins (main.py:168)
    assert by_rid[2] == "two"


def test_lookup_miss_and_null_key(main_df, mapping_df):
    rows = run(main_df, {"m": mapping_df}, [
        {"name": "rid", "type": "Direct Map", "source": "row_id"},
        {"name": "nm", "type": "Lookup", "map_name": "m",
         "in_col": "cust_id", "key_col": "id", "val_col": "name"},
    ])
    by_rid = {r["rid"]: r["nm"] for r in rows}
    assert by_rid[4] is None  # unmapped key -> NULL
    assert by_rid[5] is None  # NULL key -> NULL


def test_float_vs_int_string_coercion_mismatch(main_df, mapping_df):
    """DOUBLE 1.0 stringifies to '1.0' and never matches key '1'
    (verified reference behavior, SURVEY.md §2.1 pt 5)."""
    rows = run(main_df, {"m": mapping_df}, [
        {"name": "nm", "type": "Lookup", "map_name": "m",
         "in_col": "cust_id_f", "key_col": "id", "val_col": "name"},
    ])
    assert all(r["nm"] is None for r in rows)


def test_null_comparison_takes_else_branch(main_df, mapping_df):
    rows = run(main_df, {}, [
        {"name": "rid", "type": "Direct Map", "source": "row_id"},
        {"name": "pri", "type": "Conditional",
         "expression": "(`amount` > 1000)", "then": "VIP", "else": "Regular"},
        {"name": "seg", "type": "Conditional",
         "expression": "(`amount` > 500) & (`status` == 'Active')",
         "then": "Target", "else": "Other"},
    ])
    by_rid = {r["rid"]: r for r in rows}
    assert by_rid[4]["pri"] == "Regular"   # NULL amount -> else
    assert by_rid[5]["seg"] == "Other"     # NULL status -> else
    assert by_rid[1]["pri"] == "VIP"
    assert by_rid[1]["seg"] == "Target"


def test_output_only_rule_columns_row_aligned(main_df, mapping_df):
    rows = run(main_df, {"m": mapping_df}, [
        {"name": "only_col", "type": "Direct Map", "source": "amount"},
    ])
    assert len(rows) == 5
    assert set(rows[0].keys()) == {"only_col"}


def test_rules_not_chained(main_df):
    """A rule cannot reference a previous rule's output column
    (main.py:146,154,169) — strict mode raises."""
    with pytest.raises(Exception):
        compile_pipeline(main_df, parse_pipeline([
            {"name": "a", "type": "Direct Map", "source": "amount"},
            {"name": "b", "type": "Direct Map", "source": "a"},
        ]), {}).collect()


def test_permissive_failure_isolation(main_df, mapping_df):
    """Per-rule try/except (main.py:141,173-174): bad rule dropped,
    rest still run."""
    out = compile_pipeline(main_df, parse_pipeline([
        {"name": "good", "type": "Direct Map", "source": "amount"},
        {"name": "bad", "type": "Direct Map", "source": "nope"},
        {"name": "also_good", "type": "Lookup", "map_name": "m",
         "in_col": "cust_id", "key_col": "id", "val_col": "name"},
    ]), {"m": mapping_df}, permissive=True)
    assert out.columns == ["good", "also_good"]
    assert out.count() == 5


def test_strict_bad_conditional_raises_at_compile(main_df, mapping_df):
    """Strict mode raises on a Conditional that names no primary
    column, before anything runs: also when the name is an earlier
    rule's output or an internal column of the compiled select."""
    for name in ("no_such_col", "a", "nm", "_r0", "_p1", "_k1", "_r1"):
        with pytest.raises(AnalysisException):
            compile_pipeline(main_df, parse_pipeline([
                {"name": "a", "type": "Direct Map", "source": "amount"},
                {"name": "nm", "type": "Lookup", "map_name": "m",
                 "in_col": "cust_id", "key_col": "id", "val_col": "name"},
                {"name": "bad", "type": "Conditional",
                 "expression": f"(`{name}` > 1)", "then": "T",
                 "else": "F"},
            ]), {"m": mapping_df})


def test_permissive_isolates_bad_conditional(main_df):
    """Regression: an unresolvable Conditional expression must be
    dropped in permissive mode, not abort the final select."""
    out = compile_pipeline(main_df, parse_pipeline([
        {"name": "good", "type": "Direct Map", "source": "amount"},
        {"name": "bad", "type": "Conditional",
         "expression": "(`no_such_col` > 1)", "then": "T", "else": "F"},
    ]), {}, permissive=True)
    assert out.columns == ["good"]
    assert out.count() == 5


def test_non_ascii_string_literal(main_df, spark):
    """Regression: 'café' mojibaked through unicode_escape."""
    assert translate_expr("`s` == 'café'") == "`s` = 'café'"
    df = spark.createDataFrame([(1, "café"), (2, "cafe")],
                               "id long, s string")
    rows = {r["id"]: r["hit"] for r in compile_pipeline(
        df, parse_pipeline([
            {"name": "id", "type": "Direct Map", "source": "id"},
            {"name": "hit", "type": "Conditional",
             "expression": "`s` == 'café'", "then": "Y", "else": "N"},
        ]), {}).collect()}
    assert rows == {1: "Y", 2: "N"}


def test_arithmetic_expression_superset(main_df):
    """Imported JSON pipelines reach pandas eval unchecked
    (main.py:327-334,154) — arithmetic + ~ negation must work."""
    rows = run(main_df, {}, [
        {"name": "rid", "type": "Direct Map", "source": "row_id"},
        {"name": "big", "type": "Conditional",
         "expression": "~((`amount` * 2 + 1) / 3 < 500) | (`row_id` == 5)",
         "then": "Y", "else": "N"},
    ])
    by_rid = {r["rid"]: r["big"] for r in rows}
    assert by_rid[1] == "Y"   # (1500*2+1)/3 = 1000.33 -> not(<500)
    assert by_rid[3] == "N"   # (200*2+1)/3 = 133.67
    assert by_rid[5] == "Y"   # row_id == 5


def test_examples_json_schema_parses_and_runs(main_df, mapping_df):
    """The older examples.json:1-7 schema normalizes to the same rules."""
    spec = {
        "output_columns": [
            {"name": "CustomerName",
             "lookup": {"mapping_file": "m", "input_col": "cust_id",
                        "key_col": "id", "target_col": "name"}},
            {"name": "Priority",
             "condition": {"if": [{"input_col": "amount", "operator": ">",
                                   "value": 1000},
                                  {"input_col": "status", "operator": "==",
                                   "value": "Active"}],
                           "then": "VIP", "else": "Regular"}},
        ]
    }
    rules = parse_pipeline(spec)
    assert isinstance(rules[0], LookupRule)
    assert isinstance(rules[1], ConditionalRule)
    out = compile_pipeline(main_df, rules, {"m": mapping_df})
    got = [r.asDict() for r in out.collect()]
    assert {"CustomerName", "Priority"} == set(got[0].keys())
    vip = [r for r in got if r["Priority"] == "VIP"]
    assert len(vip) == 1 and vip[0]["CustomerName"] == "second"


def test_export_reimport_round_trip():
    rules = [
        DirectMapRule("a", "x"),
        ConditionalRule("b", "(`x` > 1)", "T", "F"),
        LookupRule("c", "m", "x", "k", "v"),
    ]
    assert parse_pipeline(json.loads(export_pipeline(rules))) == rules


def test_expr_translation():
    assert translate_expr("(`amount` > 1000) & (`status` == 'Active')") == \
        "( `amount` > 1000 ) AND ( `status` = 'Active' )"
    assert translate_expr("~(`x` != 1) | (`y` <= 2)", "duckdb") == \
        'NOT ( "x" != 1 ) OR ( "y" <= 2 )'
    assert translate_expr("amount > 10 and not flag", "duckdb") == \
        '"amount" > 10 AND NOT "flag"'
    assert translate_expr('`s` == "dq"') == "`s` = 'dq'"
    assert translate_expr("`s` in ['a', 'b'] & `n` in [1, 2]") == \
        "`s` IN ( 'a' , 'b' ) AND `n` IN ( 1 , 2 )"


def test_in_list_rule_runs(main_df):
    rows = run(main_df, {}, [
        {"name": "rid", "type": "Direct Map", "source": "row_id"},
        {"name": "st", "type": "Conditional",
         "expression": "`status` in ['Active', 'Pending']",
         "then": "Y", "else": "N"},
    ])
    by_rid = {r["rid"]: r["st"] for r in rows}
    assert by_rid[1] == "Y" and by_rid[3] == "N" and by_rid[5] == "N"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lookup_last_wins_across_splits_without_shuffle(main_df, spark,
                                                        tmp_path):
    """A mapping CSV read as several splits, with each key repeated in
    every split: the row that comes last in the file wins, and the
    dedup runs on one partition, so the plan has no hash exchange."""
    path = tmp_path / "m.csv"
    lines = ["id,name"] + [f"{i % 4},v{i:04d}" for i in range(400)]
    path.write_text("\n".join(lines) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")  # splits are planned when the job runs
    try:
        mapping = spark.read.option("header", True) \
            .option("inferSchema", True).csv(str(path))
        assert mapping.rdd.getNumPartitions() >= 2
        out = compile_pipeline(main_df, parse_pipeline([
            {"name": "rid", "type": "Direct Map", "source": "row_id"},
            {"name": "nm", "type": "Lookup", "map_name": "m",
             "in_col": "cust_id", "key_col": "id", "val_col": "name"},
        ]), {"m": mapping})
        by_rid = {r["rid"]: r["nm"] for r in out.collect()}
        plan = _plan(out)
    finally:
        spark.conf.set(key, old)
    assert by_rid == {1: "v0397", 2: "v0398", 3: "v0399", 4: None,
                      5: None}
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan
    # last wins by max_by over the load order, not a row_number window
    assert "Window" not in plan
    # long cust_id against the inferred int id: compared as bigint,
    # neither join key is cast to string
    assert "BroadcastHashJoin" in plan and "as string" not in plan


def test_lookup_last_wins_follows_own_src_order(main_df, spark):
    """A mapping that carries ``_src_order`` is deduped by that column,
    not by the order its rows come in."""
    mapping = spark.createDataFrame(
        [(1, "late", 30), (1, "early", 10), (2, "y", 7), (2, "x", 5)],
        "id long, name string, _src_order long").coalesce(1)
    rows = run(main_df, {"m": mapping}, [
        {"name": "rid", "type": "Direct Map", "source": "row_id"},
        {"name": "nm", "type": "Lookup", "map_name": "m",
         "in_col": "cust_id", "key_col": "id", "val_col": "name"},
    ])
    assert {r["rid"]: r["nm"] for r in rows} == {
        1: "late", 2: "y", 3: None, 4: None, 5: None}


# (key, value) in file order: key 8 repeats (the later row wins), key 1
# repeats with a NULL last value (the result is NULL, as dict(zip)
# gives), and one mapping key is NULL (it matches nothing)
_KEYED = [(7, "a"), (8, "b"), (None, "n"), (8, "c"), (1, "d"), (1, None)]
_PROBE = [7, 8, 9, None, 1]
_WANT = {7: "a", 8: "c", 9: None, None: None, 1: None}


def _lookup(spark, main_rows, main_type, map_rows, map_type):
    main = spark.createDataFrame(
        list(enumerate(main_rows)), f"rid int, k {main_type}")
    mapping = spark.createDataFrame(
        map_rows, f"id {map_type}, name string").coalesce(1)
    out = compile_pipeline(main, parse_pipeline([
        {"name": "rid", "type": "Direct Map", "source": "rid"},
        {"name": "nm", "type": "Lookup", "map_name": "m",
         "in_col": "k", "key_col": "id", "val_col": "name"},
    ]), {"m": mapping})
    got = {r["rid"]: r["nm"] for r in out.collect()}
    return [got[i] for i in range(len(main_rows))], out


@pytest.mark.parametrize("main_type,map_type", [
    ("bigint", "int"), ("int", "bigint"), ("smallint", "bigint"),
    ("tinyint", "smallint"), ("int", "int"), ("string", "string")])
def test_native_keys_match_string_cast(spark, monkeypatch, main_type,
                                       map_type):
    """Integral/integral and string/string Lookups compare keys in
    their own type; the result equals the reference's cast of both
    sides to string."""
    def conv(v):
        return None if v is None else \
            (str(v) if main_type == "string" else v)
    probe = [conv(v) for v in _PROBE]
    keyed = [(conv(k), v) for k, v in _KEYED]
    native, out = _lookup(spark, probe, main_type, keyed, map_type)
    assert "as string" not in _plan(out)
    monkeypatch.setattr(compiler, "key_type", lambda a, b: "string")
    as_string, _ = _lookup(spark, probe, main_type, keyed, map_type)
    assert native == as_string == [_WANT[v] for v in _PROBE]


def test_int_column_against_string_key_compares_as_string(spark):
    """INT 7 stringifies to '7': it matches key '7' and not '007', a
    later row whose key is 7 as a number."""
    got, out = _lookup(spark, [7, 70, None], "int",
                       [("7", "seven"), ("007", "padded"), (None, "n")],
                       "string")
    assert got == ["seven", None, None]
    assert re.search(r"cast\(k#\d+ as string\)", _plan(out))
