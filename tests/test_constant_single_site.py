"""Each shared module-level constant has one definition under
etl_tool_rep_spark/: the second user imports it from the first, so a
fix to the value reaches every user. Short values (a bare number such
as ``_DIM = 64`` or a few-character string) are common by coincidence
and are skipped."""

import ast
import collections
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# ast.dump of a value at least this long counts as a shared decision;
# Constant(value=1000000007) is 26 characters
_MIN_DUMP = 32


def _module_constants(path: str):
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            target, value = node.targets[0], node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            target, value = node.target, node.value
        else:
            continue
        if isinstance(target, ast.Name):
            yield target.id, ast.dump(value)


def test_each_shared_constant_has_one_definition():
    sites = collections.defaultdict(set)
    for d, _, files in os.walk(os.path.join(ROOT, "etl_tool_rep_spark")):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(d, f)
                for name, dump in _module_constants(full):
                    if len(dump) >= _MIN_DUMP:
                        sites[name, dump].add(os.path.relpath(full, ROOT))
    dups = {name: sorted(mods) for (name, _), mods in sites.items()
            if len(mods) > 1}
    assert not dups, ("define each constant once and import it; "
                      f"found copies: {dups}")
