"""CSV and parquet reads infer each file's schema once: in
``catalog.py`` and ``sources/readers.py`` only
``readers._read_inferred`` builds a ``spark.read`` of either format, so
every table load and every upload goes through the schema it keeps per
file version."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "etl_tool_rep_spark")
_FILES = ("catalog.py", os.path.join("sources", "readers.py"))
# .csv( / .parquet( on a reader, or the format named as a string
_CALL = re.compile(r"\.(csv|parquet)\(|format\s*[(=]\s*[\"'](csv|parquet)")


def _helper_lines() -> range:
    with open(os.path.join(PKG, "sources", "readers.py")) as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
              and n.name == "_read_inferred")
    return range(fn.lineno, fn.end_lineno + 1)


def test_csv_and_parquet_reads_go_through_read_inferred():
    hits = []
    for rel in _FILES:
        with open(os.path.join(PKG, rel), encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                if _CALL.search(line):
                    hits.append(f"{rel}:{i}")
    assert not hits, ("read CSV/parquet through readers._read_inferred: "
                      + ", ".join(hits))


def test_read_inferred_is_the_reader():
    with open(os.path.join(PKG, "sources", "readers.py")) as fh:
        lines = fh.read().splitlines()
    body = "\n".join(lines[i - 1] for i in _helper_lines())
    assert "spark.read.format(fmt)" in body
    with open(os.path.join(PKG, "catalog.py")) as fh:
        assert "read_parquet(" in fh.read()
