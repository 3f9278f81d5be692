"""Import guard: every engine module imports, every ``egp_crn_spark``
import in the tool and bench scripts resolves, and every keyword argument
passed to an ``egp_crn_spark`` function names one of its parameters —
checked statically, so a deletion that leaves a dangling import or
keyword fails here instead of failing a script at run time."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import inspect
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


CALLERS = sorted(
    SCRIPTS
    + glob.glob(os.path.join(REPO, "tests", "*.py"))
    + glob.glob(os.path.join(REPO, "egp_crn_spark", "**", "*.py"),
                recursive=True))


def _module_name(path):
    """Dotted module name of an engine file, or None outside the package."""
    rel = os.path.relpath(path, REPO)[:-3].split(os.sep)
    if rel[0] != "egp_crn_spark":
        return None
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _imported(module, name):
    """The object ``from module import name`` binds, or None."""
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return None
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ImportError:
        return None


def _bindings(tree, path):
    """Names a file binds by import to ``egp_crn_spark`` objects (plus,
    for an engine module, its own top-level functions)."""
    here = _module_name(path)
    package = (here if path.endswith("__init__.py")
               else here.rpartition(".")[0]) if here else None
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != "egp_crn_spark":
                    continue
                if a.asname:
                    out[a.asname] = importlib.import_module(a.name)
                else:
                    out["egp_crn_spark"] = egp_crn_spark
        elif isinstance(node, ast.ImportFrom):
            module = node.module
            if node.level:
                if package is None:
                    continue
                base = package.rsplit(".", node.level - 1)[0]
                module = f"{base}.{module}" if module else base
            if not module or module.split(".")[0] != "egp_crn_spark":
                continue
            for a in node.names:
                obj = _imported(module, a.name)
                if obj is not None:
                    out[a.asname or a.name] = obj
    if here:
        mod = importlib.import_module(here)
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                out.setdefault(node.name, getattr(mod, node.name, None))
    return out


def _resolve(func, names):
    """The engine object a call's ``func`` expression names, or None."""
    parts = []
    while isinstance(func, ast.Attribute):
        parts.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name) or func.id not in names:
        return None
    obj = names[func.id]
    for attr in reversed(parts):
        obj = getattr(obj, attr, None)
    return obj


def test_engine_call_keywords_exist():
    """A keyword argument that names no parameter of the engine function
    it is passed to (a removed option, say) fails only when that call
    runs; this finds it without running anything."""
    bad, n = [], 0
    for path in CALLERS:
        rel = os.path.relpath(path, REPO)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        names = _bindings(tree, path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = _resolve(node.func, names)
            if not (inspect.isfunction(fn) or inspect.isclass(fn)):
                continue
            if not getattr(fn, "__module__", "").startswith("egp_crn_spark"):
                continue
            n += 1
            params = inspect.signature(fn).parameters
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            bad += [f"{rel}:{node.lineno} {fn.__qualname__}({kw.arg}=)"
                    for kw in node.keywords
                    if kw.arg is not None and kw.arg not in params]
    assert n > 1000
    assert not bad, bad
