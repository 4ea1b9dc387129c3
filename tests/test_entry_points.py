"""Every name that an entry point imports from the package still exists.

The entry points are the scripts, the benchmark harness (perfbench), bench.py
and the driver contract __spark_entry__.py. Their source is parsed, never
imported or run, so a package API that one of them still uses cannot be
deleted without failing here.
"""

from __future__ import annotations

import ast
import importlib
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
