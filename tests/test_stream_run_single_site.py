"""Streaming queries have one runner: ``streaming/stream.py`` (``drain``
and ``run_available_now``) is the only code in the engine and its tools
that starts or awaits a streaming query, so every availableNow caller
gets the same answer on failure (the query's exception), on timeout
(``TimeoutError``) and afterwards (no query left active)."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNNER = os.path.join(ROOT, "etl_tool_rep_spark", "streaming", "stream.py")
# DataStreamWriter builder methods: a start()/toTable() whose receiver
# chain goes through one of them launches a streaming query
_WRITER = {"writeStream", "trigger", "foreachBatch", "foreach",
           "outputMode", "queryName"}


def _chain(node: ast.AST) -> set[str]:
    """Attribute names along a call chain like ``a.b(..).c(..).d``."""
    names = set()
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.add(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def _launch_lines(tree: ast.AST) -> list[int]:
    """Lines that start or await a streaming query. A writer held in a
    variable counts through the chains assigned to that name."""
    bound: dict[str, set[str]] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Assign):
            for t in n.targets:
                if isinstance(t, ast.Name):
                    bound.setdefault(t.id, set()).update(_chain(n.value))
    lines = []
    for n in ast.walk(tree):
        if not (isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)):
            continue
        f = n.func
        recv = (bound.get(f.value.id, set())
                if isinstance(f.value, ast.Name) else _chain(f.value))
        if (f.attr in ("awaitTermination", "awaitAnyTermination")
                or f.attr in ("start", "toTable") and recv & _WRITER):
            lines.append(n.lineno)
    return lines


def test_only_stream_py_runs_streaming_queries():
    hits = []
    for top in ("etl_tool_rep_spark", "tools"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                path = os.path.join(d, f)
                if not f.endswith(".py") or path == RUNNER:
                    continue
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
                hits += [f"{os.path.relpath(path, ROOT)}:{line}"
                         for line in _launch_lines(tree)]
    assert not hits, ("run streams through streaming.stream.drain "
                      "instead: " + ", ".join(hits))


def test_runner_itself_is_seen():
    with open(RUNNER, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    assert len(_launch_lines(tree)) >= 2  # start + awaitTermination
