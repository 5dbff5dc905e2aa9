"""Each exact-gate kernel has one definition on the Spark/numpy side,
so a fix to it reaches every key that uses it. The guard walks the
code's syntax tree and never looks inside string constants, so the
oracles' SQL restatements (independent by design) do not count."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _callee(node) -> str:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def _calls(node, name: str) -> bool:
    return any(isinstance(n, ast.Call) and _callee(n) == name
               for n in ast.walk(node))


def _const(node, value) -> bool:
    return isinstance(node, ast.Constant) and node.value == value


def _band_fold(n) -> bool:
    # pmod(acc * base + element_at(signature, ...), p)
    return (isinstance(n, ast.Call) and _callee(n) == "pmod"
            and bool(n.args) and _calls(n.args[0], "element_at"))


def _bigint_sq_l2(n) -> bool:
    # aggregate(zip_with(.., (a - b) * (a - b)), lit(0).cast("bigint"), ..)
    if not (isinstance(n, ast.Call) and _callee(n) == "aggregate"
            and len(n.args) >= 2 and _calls(n.args[0], "zip_with")):
        return False
    zero = n.args[1]
    return (isinstance(zero, ast.Call) and _callee(zero) == "cast"
            and _const(zero.args[0], "bigint")
            and any(isinstance(b, ast.BinOp)
                    and isinstance(b.op, ast.Mult)
                    and isinstance(b.left, ast.BinOp)
                    and isinstance(b.left.op, ast.Sub)
                    and ast.dump(b.left) == ast.dump(b.right)
                    for b in ast.walk(n.args[0])))


def _pcm16_rule(n) -> bool:
    # d * 1103515245 + j * 12345 + 1013904223
    if not (isinstance(n, ast.BinOp) and isinstance(n.op, ast.Add)
            and _const(n.right, 1013904223)
            and isinstance(n.left, ast.BinOp)):
        return False
    a, b = n.left.left, n.left.right
    return (isinstance(a, ast.BinOp) and _const(a.right, 1103515245)
            and isinstance(b, ast.BinOp) and _const(b.right, 12345))


def _pixel_lcg(n) -> bool:
    # the position hash d * 73856093 + y * 19349663 + x * 83492791
    return (isinstance(n, ast.BinOp) and isinstance(n.op, ast.Mult)
            and (_const(n.left, 73856093) or _const(n.right, 73856093)))


def _gini(n) -> bool:
    # 2 p (m - p) / (m * m) in doubles: one side's Gini impurity
    return (isinstance(n, ast.BinOp) and isinstance(n.op, ast.Div)
            and isinstance(n.left, ast.BinOp)
            and isinstance(n.left.op, ast.Mult)
            and isinstance(n.left.right, ast.BinOp)
            and isinstance(n.left.right.op, ast.Sub)
            and isinstance(n.right, ast.BinOp)
            and isinstance(n.right.op, ast.Mult)
            and isinstance(n.right.left, ast.Call)
            and _callee(n.right.left) == "cast")


def _mentions(node, column: str) -> bool:
    return any(isinstance(c, ast.Constant) and isinstance(c.value, str)
               and column in c.value for c in ast.walk(node))


def _compares(node, op, column: str) -> bool:
    return any(isinstance(c, ast.Compare) and isinstance(c.ops[0], op)
               and all(_mentions(s, column)
                       for s in (c.left, *c.comparators))
               for c in ast.walk(node))


def _co_supplier_edges(n) -> bool:
    # x.join(y, (..l_orderkey == ..l_orderkey)
    #           & (..l_suppkey != ..l_suppkey))...distinct()
    if not (isinstance(n, ast.Call) and _callee(n) == "distinct"
            and isinstance(n.func, ast.Attribute)):
        return False
    return any(isinstance(j, ast.Call) and _callee(j) == "join"
               and len(j.args) >= 2
               and _compares(j.args[1], ast.Eq, "l_orderkey")
               and _compares(j.args[1], ast.NotEq, "l_suppkey")
               for j in ast.walk(n.func.value))


KERNELS = {
    "MinHash band fold": (
        _band_fold, "etl_tool_rep_spark/queries/tier21.py:_band_rows"),
    "bigint squared-L2 distance": (
        _bigint_sq_l2, "etl_tool_rep_spark/queries/tier22.py:_sq_l2"),
    "PCM16 sample rule": (
        _pcm16_rule,
        "etl_tool_rep_spark/queries/tier42.py:_pcm16_payloads"),
    "numpy pixel LCG": (
        _pixel_lcg, "etl_tool_rep_spark/operators/multimodal.py:pixel_grid"),
    "Gini gain": (
        _gini, "etl_tool_rep_spark/queries/tier30.py:_gini_gain_q.gini"),
    "co-supplier edge build": (
        _co_supplier_edges,
        "etl_tool_rep_spark/operators/graph.py:co_supplier_edges"),
}


def _sites(pred) -> set[str]:
    """``path:qualified.def`` of every match of ``pred``."""
    found = set()

    def visit(node, path, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                inner = scope + [child.name]
            if pred(child):
                found.add(f"{path}:{'.'.join(scope) or '<module>'}")
            visit(child, path, inner)

    for top in ("etl_tool_rep_spark", "tools"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(d, f)
                with open(full, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
                visit(tree, os.path.relpath(full, ROOT), [])
    return found


def test_each_exact_kernel_has_one_definition():
    bad = {}
    for name, (pred, home) in KERNELS.items():
        sites = _sites(pred)
        if sites != {home}:
            bad[name] = sorted(sites)
    assert not bad, ("define each kernel once and call it; "
                     f"expected one home each, found: {bad}")
