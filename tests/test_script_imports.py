"""Import hygiene for the entry points outside the package.

``scripts/*.py``, ``bench.py`` and ``__spark_entry__.py`` are not imported by
any other test, so a removed or renamed package API would otherwise leave
them broken until someone runs them. This parses each file (no execution,
no SparkSession) and checks that every name it imports from
``mssql2monetdb_spark`` resolves.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "mssql2monetdb_spark"
FILES = sorted((ROOT / "scripts").glob("*.py")) + [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]


def _package_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) per imported name; name is None for ``import m``."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.split(".")[0] == PACKAGE]
        elif (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and node.module.split(".")[0] == PACKAGE
        ):
            out += [(node.module, a.name) for a in node.names]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_package_imports_resolve():
    imports = {p.name: _package_imports(p) for p in FILES}
    # non-vacuous: the scan finds package imports to check
    assert sum(map(len, imports.values())) > 50
    missing = {
        name: [f"{m}.{n}" if n else m for m, n in pairs if not _resolves(m, n)]
        for name, pairs in imports.items()
    }
    missing = {k: v for k, v in missing.items() if v}
    assert not missing, f"imports of names that no longer exist: {missing}"
