"""Lineage cuts have one implementation: ``session.pin`` is the only
code in the engine and its tools that calls ``localCheckpoint`` or
``checkpoint``, so whether a pin is cluster-durable is decided by the
SparkContext's checkpoint directory in one place."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CALL = re.compile(r"localCheckpoint\(|\.checkpoint\(")


def _pin_lines() -> range:
    path = os.path.join(ROOT, "etl_tool_rep_spark", "session.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "pin")
    return range(fn.lineno, fn.end_lineno + 1)


def test_only_session_pin_checkpoints():
    session = os.path.join(ROOT, "etl_tool_rep_spark", "session.py")
    allowed = _pin_lines()
    hits, in_pin = [], 0
    for top in ("etl_tool_rep_spark", "tools"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if not f.endswith((".py", ".sh")):
                    continue
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    for i, line in enumerate(fh, 1):
                        if not _CALL.search(line):
                            continue
                        if path == session and i in allowed:
                            in_pin += 1
                        else:
                            hits.append(
                                f"{os.path.relpath(path, ROOT)}:{i}")
    assert not hits, "pin through session.pin instead: " + ", ".join(hits)
    assert in_pin >= 2  # both checkpoint kinds live in pin
