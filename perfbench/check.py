"""Output checks, run in the untimed first pass of every run.

* Registry keys with an oracle: the Spark result must equal the
  ``ORACLES`` SQL run on DuckDB over the same generated tables, compared
  with the repository's own ``tools/check_oracle.py`` helpers.
* Rows-only registry keys: the result must have rows.
* etl_roundtrip: the exported CSV must equal a DuckDB restatement of
  the reference rule semantics — string-coerced lookup keys, the last
  duplicate key wins, a missing key gives NULL, a NULL condition takes
  the else branch.

Each check returns None when the output is right, else a one-line
reason.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.csv as pacsv

from check_oracle import duck_connection, normalize_rows  # tools/


class Oracle:
    """One DuckDB connection over a generated tables directory."""

    def __init__(self, tables_dir: str):
        self.con = duck_connection(tables_dir)

    def close(self) -> None:
        self.con.close()

    def check_query(self, key: str, df, oracles: dict) -> str | None:
        if key not in oracles:
            n = df.count()
            return None if n > 0 else "rows-only key returned no rows"
        scols = df.columns
        srows = [tuple(r) for r in df.collect()]
        rel = self.con.sql(oracles[key])
        dcols, drows = rel.columns, rel.fetchall()
        if len(srows) != len(drows):
            return f"row count spark={len(srows)} duckdb={len(drows)}"
        if sorted(scols) != sorted(dcols):
            return f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
        _, ns = normalize_rows(scols, srows)
        _, nd = normalize_rows(dcols, drows)
        if ns != nd:
            diff = next((a, b) for a, b in zip(ns, nd) if a != b)
            return f"values differ, first: spark={diff[0]} duckdb={diff[1]}"
        return None


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def duck_condition(expression: str) -> str:
    """DuckDB form of a generated Conditional: backticked columns
    compared with literals, joined by ``&`` or ``|`` (gen.make_rules).
    Kept apart from the program's own translator so that a translation
    bug there cannot hide in the reference."""
    return (expression.replace("`", '"').replace("==", "=")
            .replace(" & ", " AND ").replace(" | ", " OR "))


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def expected_sql(rules: list[dict], mapping_names: list[str]) -> str:
    """The reference semantics as one DuckDB SELECT over ``main`` joined
    to one deduplicated mapping subquery per Lookup; each mapping table
    carries its file order in ``_idx``."""
    cols, joins = [], []
    for i, r in enumerate(rules):
        if r["type"] == "Direct Map":
            cols.append(f"main.{_q(r['source'])} AS {_q(r['name'])}")
        elif r["type"] == "Conditional":
            cond = duck_condition(r["expression"])
            cols.append(f"CASE WHEN {cond} THEN {_sql_literal(r['then'])} "
                        f"ELSE {_sql_literal(r['else'])} END "
                        f"AS {_q(r['name'])}")
        elif r["type"] == "Lookup":
            if r["map_name"] not in mapping_names:
                raise ValueError(f"unknown mapping {r['map_name']}")
            a = f"lk{i}"
            joins.append(
                f"LEFT JOIN (SELECT CAST({_q(r['key_col'])} AS VARCHAR) AS k,"
                f" {_q(r['val_col'])} AS v, _idx FROM {_q(r['map_name'])}"
                f" QUALIFY row_number() OVER (PARTITION BY"
                f" CAST({_q(r['key_col'])} AS VARCHAR) ORDER BY _idx DESC)"
                f" = 1) {a} ON CAST(main.{_q(r['in_col'])} AS VARCHAR)"
                f" = {a}.k")
            cols.append(f"{a}.v AS {_q(r['name'])}")
        else:
            raise ValueError(f"unknown rule type {r['type']!r}")
    return f"SELECT {', '.join(cols)} FROM main {' '.join(joins)}"


def check_etl(etl_dir: str, out_dir: str, rules: list[dict]) -> str | None:
    parts = glob.glob(os.path.join(out_dir, "part-*"))
    if len(parts) != 1:
        return f"expected one exported part file, found {len(parts)}"
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW main AS SELECT * FROM read_csv("
                    f"'{os.path.join(etl_dir, 'lineitem_main.csv')}',"
                    " header=true)")
        names = []
        for path in sorted(glob.glob(os.path.join(etl_dir, "*_map.csv"))):
            # pyarrow keeps file order, which decides the last duplicate
            t = pacsv.read_csv(path)
            t = t.append_column("_idx", pa.array(range(t.num_rows)))
            name = os.path.splitext(os.path.basename(path))[0]
            con.register(name, t)
            names.append(name)
        con.execute(f"CREATE TABLE exp AS {expected_sql(rules, names)}")
        con.execute("CREATE TABLE act AS SELECT * FROM read_csv("
                    f"'{parts[0]}', header=true, all_varchar=true)")
        types = dict(con.execute(
            "SELECT column_name, data_type FROM information_schema.columns"
            " WHERE table_name = 'exp'").fetchall())
        act_cols = [r[0] for r in con.execute(
            "SELECT column_name FROM information_schema.columns"
            " WHERE table_name = 'act' ORDER BY ordinal_position").fetchall()]
        want = [r["name"] for r in rules]
        if act_cols != want:
            return f"exported columns {act_cols} != rule names {want}"
        diffs = []
        for c in want:
            if types[c] in ("DOUBLE", "FLOAT", "BIGINT", "INTEGER",
                            "DECIMAL", "SMALLINT", "TINYINT", "HUGEINT"):
                diffs.append(f"TRY_CAST(a.{_q(c)} AS DOUBLE) IS DISTINCT "
                             f"FROM CAST(e.{_q(c)} AS DOUBLE)")
            else:
                diffs.append(f"a.{_q(c)} IS DISTINCT FROM "
                             f"CAST(e.{_q(c)} AS VARCHAR)")
        key = _q(want[0])
        bad = con.execute(
            f"SELECT count(*) FROM exp e FULL JOIN act a"
            f" ON e.{key} = TRY_CAST(a.{key} AS BIGINT)"
            f" WHERE e.{key} IS NULL OR a.{key} IS NULL OR "
            + " OR ".join(diffs)).fetchone()[0]
        n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
        if bad:
            return f"{bad} of {n_exp} exported rows differ from the reference"
        return None
    finally:
        con.close()


def load_rules(etl_dir: str) -> list[dict]:
    with open(os.path.join(etl_dir, "rules.json")) as fh:
        return json.load(fh)
