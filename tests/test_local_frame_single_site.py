"""Driver-built frames have one way back into Spark:
``session.local_frame`` and ``session.hold``, through their shared
Arrow tail ``session._arrow_frame``, are the only code in the engine
and its tools that calls ``createDataFrame``, apart from the two pandas inputs of
``sources/readers.py``, so no list of rows is planned as a scan over a
pickled Python RDD."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CALL = re.compile(r"createDataFrame\(")

# (file, function) pairs allowed to call createDataFrame
_ALLOWED = {
    ("session.py", "_arrow_frame"),         # the Arrow table
    ("sources/readers.py", "read_excel"),   # pandas from read_excel
    ("sources/readers.py", "read_excel_many"),  # pandas schema probe
}


def _lines(rel: str, name: str) -> range:
    path = os.path.join(ROOT, "etl_tool_rep_spark", rel)
    with open(path) as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == name)
    return range(fn.lineno, fn.end_lineno + 1)


def test_only_local_frame_creates_dataframes():
    allowed: dict[str, list[range]] = {}
    for rel, name in _ALLOWED:
        allowed.setdefault(os.path.join(ROOT, "etl_tool_rep_spark", rel),
                           []).append(_lines(rel, name))
    hits, seen = [], set()
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
                        fns = [r for r in allowed.get(path, ())
                               if i in r]
                        if fns:
                            seen.add((path, fns[0].start))
                        else:
                            hits.append(
                                f"{os.path.relpath(path, ROOT)}:{i}")
    assert not hits, ("build driver-side frames with session.local_frame"
                      " instead: " + ", ".join(hits))
    assert len(seen) == len(_ALLOWED)   # every allowed site still calls
