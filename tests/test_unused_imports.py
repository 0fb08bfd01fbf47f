"""No dead imports in the engine package.

The repo runs no linter, so this pin stands in for the one rule that
keeps rotting: a module under ``automatic_etl_spark/`` must use every
name it imports. ``__init__.py`` files (re-export surfaces) and import
statements marked ``# noqa`` on their first line are exempt. Pure
``ast``: no Spark, well under a second.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "automatic_etl_spark"


def _unused_imports(source: str) -> list[tuple[int, str]]:
    lines = source.splitlines()
    tree = ast.parse(source)
    imported: dict[str, int] = {}
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if "# noqa" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            if alias.name != "*":
                imported[alias.asname or alias.name.split(".")[0]] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted((line, name) for name, line in imported.items() if name not in used)


def test_unused_import_detector():
    src = (
        "from __future__ import annotations\n"
        "import os, sys\n"
        "import a.b as ab\n"
        "import c.d\n"
        "from e import f, g  # noqa: F401\n"
        "from h import i as j, k\n"
        "def run(x: k) -> None:\n"
        "    return os.sep, c.d\n"
    )
    assert _unused_imports(src) == [(2, "sys"), (3, "ab"), (6, "j")]


def test_engine_modules_use_every_import():
    dead = [
        f"{path.relative_to(PKG.parent)}:{line}: {name}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "__init__.py"
        for line, name in _unused_imports(path.read_text())
    ]
    assert dead == []
