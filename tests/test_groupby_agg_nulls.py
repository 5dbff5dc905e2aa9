"""groupby_agg keeps NULL groups: GROUP BY puts NULL keys in a group
of their own, so the distinct-count join back must match NULL to NULL.
Checked on a copy of lineitem with every 13th ``l_returnflag`` NULL,
against the DuckDB oracle as ``tools/check_oracle.py`` compares it."""

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import duck_connection, normalize_rows  # noqa: E402

from etl_tool_rep_spark.queries import ORACLES, QUERIES  # noqa: E402


def test_groupby_agg_keeps_null_groups(spark, sf_dir, tmp_path):
    src = os.path.join(sf_dir, "lineitem.parquet")
    duckdb.sql(f"""
        COPY (SELECT * EXCLUDE (file_row_number) REPLACE (
                  CASE WHEN file_row_number % 13 = 0 THEN NULL
                       ELSE l_returnflag END AS l_returnflag)
              FROM read_parquet('{src}', file_row_number = true)
              ORDER BY file_row_number)
        TO '{tmp_path / "lineitem.parquet"}' (FORMAT parquet)""")
    sf = str(tmp_path)
    df = QUERIES["groupby_agg"](spark, sf)
    got = normalize_rows(df.columns, [tuple(r) for r in df.collect()])
    con = duck_connection(sf)
    rel = con.sql(ORACLES["groupby_agg"])
    want = normalize_rows(rel.columns, rel.fetchall())
    flag = want[0].index("returnflag")
    assert any(r[flag] is None for r in want[1]), "no NULL group"
    assert got == want
