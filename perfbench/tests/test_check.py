import duckdb
import pyarrow as pa

from check import duck_condition, expected_sql


def test_reference_semantics_of_the_restatement():
    """Last duplicate wins, string-coerced keys, miss -> NULL, NULL
    condition -> else."""
    con = duckdb.connect()
    con.register("main", pa.table({
        "l_rowid": [0, 1, 2, 3],
        "l_suppkey": [1, 2, 7, None],
        "l_quantity": [30.0, None, 5.0, 12.0],
        "l_linestatus": ["F", "O", "F", "O"]}))
    con.register("supplier_map", pa.table({
        "s_suppkey": [1, 2, 1],             # key 1 twice: the later wins
        "s_name": ["one_v1", "two", "one_v2"],
        "_idx": [0, 1, 2]}))
    rules = [
        {"name": "row_id", "type": "Direct Map", "source": "l_rowid"},
        {"name": "supp", "type": "Lookup", "map_name": "supplier_map",
         "in_col": "l_suppkey", "key_col": "s_suppkey", "val_col": "s_name"},
        {"name": "big", "type": "Conditional",
         "expression": "(`l_quantity` > 20) & (`l_linestatus` == 'F')",
         "then": "yes", "else": "no"},
    ]
    rows = con.execute(expected_sql(rules, ["supplier_map"])
                       + " ORDER BY row_id").fetchall()
    assert rows == [(0, "one_v2", "yes"), (1, "two", "no"),
                    (2, None, "no"), (3, None, "no")]


def test_duck_condition():
    assert duck_condition("(`l_tax` < 0.02) | (`l_returnflag` != 'A')") == \
        "(\"l_tax\" < 0.02) OR (\"l_returnflag\" != 'A')"
    assert duck_condition("(`l_linestatus` == 'F') & (`l_quantity` > 5)") \
        == "(\"l_linestatus\" = 'F') AND (\"l_quantity\" > 5)"
