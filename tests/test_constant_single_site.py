"""Each shared module-level constant has one definition under
etl_tool_rep_spark/: the second user imports it from the first, so a
fix to the value reaches every user. Short values (a bare number such
as ``_DIM = 64`` or a few-character string) are common by coincidence
and are skipped, except the few named in ``_SHORT_SHARED``."""

import ast
import collections
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# ast.dump of a value at least this long counts as a shared decision;
# Constant(value=1000000007) is 26 characters
_MIN_DUMP = 32
# short values that are still one shared decision, each with its one
# home: the Karp-Rabin modulus of the rolling fingerprints
_SHORT_SHARED = {1_000_000_007: "etl_tool_rep_spark/operators/text.py"}


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


def _package_constants():
    """(name, ast.dump of the value, module path) per module-level
    assignment under etl_tool_rep_spark/."""
    for d, _, files in os.walk(os.path.join(ROOT, "etl_tool_rep_spark")):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(d, f)
                for name, dump in _module_constants(full):
                    yield name, dump, os.path.relpath(full, ROOT)


def test_each_shared_constant_has_one_definition():
    sites = collections.defaultdict(set)
    for name, dump, mod in _package_constants():
        if len(dump) >= _MIN_DUMP:
            sites[name, dump].add(mod)
    dups = {name: sorted(mods) for (name, _), mods in sites.items()
            if len(mods) > 1}
    assert not dups, ("define each constant once and import it; "
                      f"found copies: {dups}")


def test_each_short_shared_value_is_assigned_once():
    """A short shared value is assigned at module level only in its
    home module, under any name; other modules import it."""
    for value, home in _SHORT_SHARED.items():
        dump = ast.dump(ast.Constant(value))
        mods = sorted(mod for _, d, mod in _package_constants()
                      if d == dump)
        assert mods == [home], (
            f"import {value} from {home}; found assignments in {mods}")
