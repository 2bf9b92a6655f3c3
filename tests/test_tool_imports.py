"""Stale-import guard for the scripts outside the package: every
``from pyspark_etl_project_spark... import name`` (and every
``import pyspark_etl_project_spark...``) in tools/*.py and bench.py —
function-local ones included, since most tools import lazily — must
resolve against the current package. A tool that imports a deleted
helper otherwise fails only when someone next runs it. Spark-free:
parses the scripts with ast and imports only the package modules they
name."""

from __future__ import annotations

import ast
import glob
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pyspark_etl_project_spark"


def _package_imports():
    scripts = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
    for path in scripts + [os.path.join(ROOT, "bench.py")]:
        rel = os.path.relpath(path, ROOT)
        with open(path) as f:
            tree = ast.parse(f.read(), rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0 \
                    and (node.module or "").split(".")[0] == PKG:
                for alias in node.names:
                    yield rel, node.lineno, node.module, alias.name
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == PKG:
                        yield rel, node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # `from pkg import submodule`
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_tool_and_bench_package_imports_resolve():
    found = list(_package_imports())
    assert found, "no package imports found — the scan is broken"
    bad = [f"{rel}:{line}: from {mod} import {name}"
           for rel, line, mod, name in found if not _resolves(mod, name)]
    assert not bad, "stale imports:\n" + "\n".join(bad)
