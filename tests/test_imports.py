"""Every ``polars_trading_spark`` import in the repository resolves.

Many imports sit inside functions (oracles, tests, scaling probes), so
neither test collection nor ``import polars_trading_spark`` runs them:
deleting a module or renaming a function can leave one dangling until
the one query or probe that needs it is run.  This test reads every
Python file with ``ast`` and checks each ``polars_trading_spark.*``
import, absolute or relative, at any depth, against the package source:
the module's file must exist, and each imported name must be a
submodule or a name bound at the module's top level.
"""

from __future__ import annotations

import ast
import functools
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "polars_trading_spark"
SCANNED = (PKG, "tests", "scripts", "perfbench", "__spark_entry__.py")

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_INNER_SCOPES = (ast.Lambda, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _py_files(entry: str) -> list[str]:
    path = os.path.join(REPO, entry)
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "__pycache__" and not d.startswith(".")]
        found += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(found)


def _module_file(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


@functools.cache
def _bound_names(path: str) -> frozenset[str]:
    """Names a module binds at top level, including inside if/try/with."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, _DEFS):
            names.add(node.name)
            continue
        if isinstance(node, _INNER_SCOPES):
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            names.add(node.id)
        stack.extend(ast.iter_child_nodes(node))
    return frozenset(names)


def _absolute(node: ast.ImportFrom, path: str) -> str | None:
    if node.level == 0:
        return node.module
    package = os.path.relpath(os.path.dirname(path), REPO).split(os.sep)
    if node.level > 1:
        package = package[: -(node.level - 1)]
    return ".".join(package + ([node.module] if node.module else []))


def _ours(module: str | None) -> bool:
    return module is not None and (module == PKG or module.startswith(PKG + "."))


def dangling_imports(path: str, source: str) -> list[str]:
    """Unresolved package imports in ``source``, as ``file:line: what``."""
    where = os.path.relpath(path, REPO)
    bad: list[str] = []
    for node in ast.walk(ast.parse(source, path)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if _ours(alias.name) and _module_file(alias.name) is None:
                    bad.append(f"{where}:{node.lineno}: no module {alias.name}")
        elif isinstance(node, ast.ImportFrom):
            module = _absolute(node, path)
            if not _ours(module):
                continue
            target = _module_file(module)
            if target is None:
                bad.append(f"{where}:{node.lineno}: no module {module}")
                continue
            for alias in node.names:
                name = alias.name
                if name == "*" or _module_file(f"{module}.{name}") is not None:
                    continue
                if name not in _bound_names(target):
                    bad.append(f"{where}:{node.lineno}: {module} defines no {name}")
    return bad


def test_every_package_import_resolves():
    bad: list[str] = []
    for entry in SCANNED:
        files = _py_files(entry)
        assert files, f"nothing to scan under {entry}"
        for path in files:
            with open(path) as f:
                bad += dangling_imports(path, f.read())
    assert bad == [], "dangling polars_trading_spark imports:\n" + "\n".join(bad)


def test_scanner_flags_deleted_modules_and_missing_names():
    source = (
        "import polars_trading_spark.operators.bars\n"
        "import polars_trading_spark.no_such_module\n"
        "from polars_trading_spark.operators import bars\n"
        "def probe():\n"
        "    from polars_trading_spark.operators.bars import time_bars\n"
        "    from polars_trading_spark.operators.bars import no_such_operator\n"
        "    from polars_trading_spark.functions.deleted_module import helper\n"
        "    from .bars import dollar_bars\n"
        "    from .bars import no_such_helper\n"
        "    from ..session import get_spark\n"
    )
    path = os.path.join(REPO, PKG, "operators", "probe.py")
    assert dangling_imports(path, source) == [
        f"{PKG}/operators/probe.py:2: no module {PKG}.no_such_module",
        f"{PKG}/operators/probe.py:6: {PKG}.operators.bars defines no no_such_operator",
        f"{PKG}/operators/probe.py:7: no module {PKG}.functions.deleted_module",
        f"{PKG}/operators/probe.py:9: {PKG}.operators.bars defines no no_such_helper",
    ]
