"""Packaging contract (round-13 verdict ask #5).

The engine must be installable: pyproject.toml metadata is valid and
in sync with the package, the console entry point resolves, the
package imports WITHOUT the repo as cwd (i.e. from an installed
copy), and setuptools actually packages the source tree (sdist build
— the wheel path needs the `wheel` package, absent here, and network
installs are off, so the sdist is the strongest offline build check).
"""

from __future__ import annotations

import ast
import importlib
import os
import re
import subprocess
import sys
import tarfile
import tomllib

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pyproject() -> dict:
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as fh:
        return tomllib.load(fh)


def test_metadata_valid_and_version_synced():
    meta = _pyproject()["project"]
    assert meta["name"] == "etl-tool-rep-spark"
    import etl_tool_rep_spark
    assert meta["version"] == etl_tool_rep_spark.__version__
    assert any(d.startswith("pyspark") for d in meta["dependencies"])
    # the gated connectors are extras, never hard deps
    extras = meta["optional-dependencies"]
    assert "paramiko" in extras["sftp"]
    assert "openpyxl" in extras["excel"]
    assert not any("paramiko" in d or "openpyxl" in d
                   for d in meta["dependencies"])


def _gated(handler: ast.ExceptHandler) -> bool:
    names = (handler.type.elts if isinstance(handler.type, ast.Tuple)
             else [handler.type])
    return any(isinstance(n, ast.Name)
               and n.id in ("ImportError", "ModuleNotFoundError")
               for n in names)


def _ungated_imports(tree: ast.AST, gated: bool = False):
    """(module, line) for each top-level import outside a
    ``try: ... except ImportError`` body."""
    if isinstance(tree, ast.Try) and any(map(_gated, tree.handlers)):
        for n in tree.body:
            yield from _ungated_imports(n, True)
        for n in tree.handlers + tree.orelse + tree.finalbody:
            yield from _ungated_imports(n, gated)
        return
    if not gated:
        if isinstance(tree, ast.Import):
            for a in tree.names:
                yield a.name.split(".")[0], tree.lineno
        elif isinstance(tree, ast.ImportFrom) and tree.level == 0:
            yield tree.module.split(".")[0], tree.lineno
    for n in ast.iter_child_nodes(tree):
        yield from _ungated_imports(n, gated)


def test_third_party_imports_are_declared_or_gated():
    """A plain ``pip install .`` must yield an importable engine: every
    third-party module the package imports is a declared dependency,
    unless the import sits under ``try/except ImportError`` (the gated
    connectors: paramiko, openpyxl, PIL)."""
    declared = {re.split(r"[<>=!~;\[ ]", d)[0].lower().replace("-", "_")
                for d in _pyproject()["project"]["dependencies"]}
    pkg = os.path.join(REPO, "etl_tool_rep_spark")
    bad = []
    for d, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            bad += [f"{os.path.relpath(path, REPO)}:{line} {mod}"
                    for mod, line in _ungated_imports(tree)
                    if mod not in sys.stdlib_module_names
                    and mod != "etl_tool_rep_spark"
                    and mod.lower() not in declared]
    assert not bad, "undeclared third-party imports: " + ", ".join(bad)


def test_console_script_target_resolves():
    (target,) = _pyproject()["project"]["scripts"].values()
    mod_name, func_name = target.split(":")
    fn = getattr(importlib.import_module(mod_name), func_name)
    assert callable(fn)


def test_package_imports_without_repo_cwd(tmp_path):
    # simulate an installed copy: some other cwd, repo on sys.path the
    # way site-packages would be — import must not depend on cwd
    env = {**os.environ, "PYTHONPATH": REPO}
    p = subprocess.run(
        [sys.executable, "-c",
         "import etl_tool_rep_spark\n"
         "from etl_tool_rep_spark.__main__ import main\n"
         "print(etl_tool_rep_spark.__version__)"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=120)
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == _pyproject()["project"]["version"]


def test_cli_help_without_repo_cwd(tmp_path):
    env = {**os.environ, "PYTHONPATH": REPO}
    p = subprocess.run(
        [sys.executable, "-m", "etl_tool_rep_spark", "--help"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=120)
    assert p.returncode == 0, p.stderr
    assert "--pipeline" in p.stdout


def test_python_workers_import_package_from_foreign_cwd(tmp_path,
                                                         sf_dir):
    """The driver has the package on sys.path only: no PYTHONPATH and
    a cwd outside the repo. Python workers must still import it; they
    run bootstrap_ci's kernel, which is checked against its oracle."""
    code = (
        "import sys\n"
        f"sys.path[:0] = [{REPO!r}, {os.path.join(REPO, 'tools')!r}]\n"
        "from check_oracle import duck_connection, normalize_rows\n"
        "from etl_tool_rep_spark.queries import ORACLES, QUERIES\n"
        "from etl_tool_rep_spark.session import get_spark\n"
        "spark = get_spark('foreign_cwd', extra_conf={\n"
        "    'spark.driver.memory': '1g',\n"
        "    'spark.sql.shuffle.partitions': '4'})\n"
        f"df = QUERIES['bootstrap_ci'](spark, {sf_dir!r})\n"
        "got = normalize_rows(df.columns, [tuple(r) for r in df.collect()])\n"
        f"con = duck_connection({sf_dir!r})\n"
        "rel = con.sql(ORACLES['bootstrap_ci'])\n"
        "want = normalize_rows(rel.columns, rel.fetchall())\n"
        "print('MATCH' if got == want and got[1] else 'DIFF')\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                       env=env, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    assert p.stdout.strip().splitlines()[-1] == "MATCH"


def test_sdist_build_packages_the_source(tmp_path):
    pytest.importorskip("setuptools")
    p = subprocess.run(
        [sys.executable, "-c",
         "from setuptools import build_meta\n"
         f"print(build_meta.build_sdist({str(tmp_path)!r}))"],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr
    name = p.stdout.strip().splitlines()[-1]
    with tarfile.open(os.path.join(tmp_path, name)) as tf:
        names = tf.getnames()
    root = name.removesuffix(".tar.gz")
    for want in (f"{root}/pyproject.toml",
                 f"{root}/etl_tool_rep_spark/__init__.py",
                 f"{root}/etl_tool_rep_spark/__main__.py",
                 f"{root}/etl_tool_rep_spark/engine.py",
                 f"{root}/etl_tool_rep_spark/queries/tier0.py"):
        assert want in names, f"sdist missing {want}"
    # tests/ and harness artifacts must NOT ship in the distribution
    assert not any("/tests/" in n or n.endswith("BENCH_SWEEP.json")
                   for n in names)
