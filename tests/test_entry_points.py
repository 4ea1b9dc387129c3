"""Every name that an entry point imports from the package still exists,
and every keyword it passes to one of those names is still a parameter.

The entry points are the scripts, the benchmark harness (perfbench), bench.py
and the driver contract __spark_entry__.py. Their source is parsed, never
imported or run, so a package API or an option that one of them still uses
cannot be deleted or renamed without failing here.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "graphzeppelin_spark"
ENTRY_POINTS = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)


def _package_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each package import in `path`; name is None
    for a plain `import module`."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and not node.level and node.module and (
            node.module == PACKAGE or node.module.startswith(PACKAGE + ".")
        ):
            out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name == PACKAGE or a.name.startswith(PACKAGE + ".")
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # a submodule, e.g. `from graphzeppelin_spark import oracle`
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_entry_points_found():
    names = {p.name for p in ENTRY_POINTS}
    assert {"bench.py", "__spark_entry__.py", "run.py", "check_contract.py"} <= names
    assert all(p.exists() for p in ENTRY_POINTS)


@pytest.mark.parametrize("path", ENTRY_POINTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_entry_point_imports_resolve(path):
    missing = [
        f"{path.relative_to(ROOT)}:{line}: {module}" + (f".{name}" if name else "")
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "unresolved package imports:\n" + "\n".join(missing)


def _imported_objects(tree: ast.AST) -> dict[str, object]:
    """Local name -> package object for each package import in `tree`
    (a module for `import pkg.mod as m`); names that do not resolve are
    test_entry_point_imports_resolve's to report."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level and node.module and (
            node.module == PACKAGE or node.module.startswith(PACKAGE + ".")
        ):
            for a in node.names:
                try:
                    mod = importlib.import_module(node.module)
                    obj = (
                        getattr(mod, a.name) if hasattr(mod, a.name)
                        else importlib.import_module(f"{node.module}.{a.name}")
                    )
                except ImportError:
                    continue
                out[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and (a.name == PACKAGE or a.name.startswith(PACKAGE + ".")):
                    try:
                        out[a.asname] = importlib.import_module(a.name)
                    except ImportError:
                        continue
    return out


def _dict_literal_keys(tree: ast.AST) -> dict[str, set[str]]:
    """name -> string keys, for each `name = {"key": ...}` in `tree`: the
    keywords a `**name` argument passes."""
    out: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and isinstance(node.value, ast.Dict)
        ):
            keys = {
                k.value for k in node.value.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)
            }
            out.setdefault(node.targets[0].id, set()).update(keys)
    return out


def _callee(func: ast.expr, imported: dict[str, object]):
    """The package callable a call targets: an imported name, or an
    attribute of an imported package module; else None."""
    if isinstance(func, ast.Name):
        return imported.get(func.id)
    if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
        mod = imported.get(func.value.id)
        if inspect.ismodule(mod):
            return getattr(mod, func.attr, None)
    return None


@pytest.mark.parametrize("path", ENTRY_POINTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_entry_point_keywords_accepted(path):
    tree = ast.parse(path.read_text(), str(path))
    imported = _imported_objects(tree)
    dict_keys = _dict_literal_keys(tree)
    unknown = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _callee(node.func, imported)
        if fn is None or inspect.ismodule(fn) or not callable(fn):
            continue
        try:
            params = inspect.signature(fn).parameters
        except (TypeError, ValueError):
            continue
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        for kw in node.keywords:
            if kw.arg is not None:
                names = {kw.arg}
            elif isinstance(kw.value, ast.Name):
                names = dict_keys.get(kw.value.id, set())
            else:
                continue
            unknown += [
                f"{path.relative_to(ROOT)}:{node.lineno}: "
                f"{getattr(fn, '__qualname__', fn)}({name}=...)"
                for name in sorted(names - params.keys())
            ]
    assert not unknown, "keywords the package no longer accepts:\n" + "\n".join(unknown)
