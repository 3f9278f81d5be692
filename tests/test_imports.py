"""Import guard: every engine module imports, and every ``egp_crn_spark``
import in the tool and bench scripts resolves — checked statically, so a
deletion that leaves a dangling import fails here instead of failing a
script at run time."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import pkgutil

import egp_crn_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    glob.glob(os.path.join(REPO, "tools", "*.py"))
    + glob.glob(os.path.join(REPO, "e2ebench", "*.py"))
    + [os.path.join(REPO, f)
       for f in ("bench.py", "bench_extra.py", "__spark_entry__.py")])


def test_every_engine_module_imports():
    names = [m.name for m in pkgutil.walk_packages(
        egp_crn_spark.__path__, "egp_crn_spark.")]
    assert len(names) > 30
    for name in names:
        importlib.import_module(name)


def _engine_imports(path):
    """(module, name-or-None) for each egp_crn_spark import in a script."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "egp_crn_spark":
                    yield a.name, None
        elif (isinstance(node, ast.ImportFrom) and not node.level
              and node.module
              and node.module.split(".")[0] == "egp_crn_spark"):
            for a in node.names:
                yield node.module, a.name


def _find(module):
    try:
        return importlib.util.find_spec(module)
    except ModuleNotFoundError:  # a parent package is missing
        return None


def test_script_engine_imports_resolve():
    missing, n = [], 0
    for path in SCRIPTS:
        rel = os.path.relpath(path, REPO)
        for module, name in _engine_imports(path):
            n += 1
            if _find(module) is None:
                missing.append(f"{rel}: {module}")
                continue
            if name is None or name == "*":
                continue
            mod = importlib.import_module(module)
            if not (hasattr(mod, name)
                    or _find(f"{module}.{name}")):
                missing.append(f"{rel}: {module}.{name}")
    assert n > 50
    assert not missing, missing
