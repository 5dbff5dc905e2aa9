"""Spark results have one way back as small frames: ``session.hold``
is the only code in the engine and its tools that calls ``toArrow(``,
and no ``.collect()`` result is handed to ``local_frame``, so every
collect-then-rebuild round trip goes through the one bounded, sized
path."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources():
    for top in ("etl_tool_rep_spark", "tools"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    with open(path, encoding="utf-8") as fh:
                        yield os.path.relpath(path, ROOT), fh.read()


def _is_call(node, attr):
    return (isinstance(node, ast.Call)
            and isinstance(node.func, (ast.Attribute, ast.Name))
            and getattr(node.func, "attr",
                        getattr(node.func, "id", None)) == attr)


def test_only_hold_calls_to_arrow():
    hits = []
    for rel, src in _sources():
        tree = ast.parse(src)
        allowed = set()
        if rel == os.path.join("etl_tool_rep_spark", "session.py"):
            fn = next(n for n in tree.body
                      if isinstance(n, ast.FunctionDef) and n.name == "hold")
            allowed = set(range(fn.lineno, fn.end_lineno + 1))
        for i, line in enumerate(src.splitlines(), 1):
            if "toArrow(" in line and i not in allowed:
                hits.append(f"{rel}:{i}")
    assert not hits, "bring Spark results back with session.hold: " + \
        ", ".join(hits)


def test_no_collected_rows_reach_local_frame():
    """``rows = X.collect()`` then ``local_frame(spark, rows, ...)``, or
    the collect inline, in any function."""
    hits = []
    for rel, src in _sources():
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            collected = {t.id for n in ast.walk(fn)
                         if isinstance(n, ast.Assign)
                         and _is_call(n.value, "collect")
                         for t in n.targets if isinstance(t, ast.Name)}
            for n in ast.walk(fn):
                if not _is_call(n, "local_frame") or len(n.args) < 2:
                    continue
                rows = n.args[1]
                if (isinstance(rows, ast.Name) and rows.id in collected) \
                        or _is_call(rows, "collect"):
                    hits.append(f"{rel}:{n.lineno}")
    assert not hits, ("a computed frame comes back with session.hold, not"
                      " collect() + local_frame: " + ", ".join(sorted(
                          set(hits))))
