"""Every module-level import in the package is used: a name a module
imports must be read somewhere in that module, or be re-exported through
its ``__all__``.  Checked with ``ast`` alone, so it needs no linter."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "feature_store_healthcare_spark"


def _unused_imports(source: str) -> list[tuple[int, str]]:
    tree = ast.parse(source)
    bound: dict[str, int] = {}
    exported: set[str] = set()
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            exported = set(ast.literal_eval(node.value))
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted((line, name) for name, line in bound.items() if name not in used | exported)


def test_checker_flags_unused_and_keeps_used_and_exported():
    source = (
        "from __future__ import annotations\n"
        "import os\n"
        "import os.path as osp\n"
        "from typing import Any, List\n"
        "from json import dumps\n"
        "__all__ = ['dumps']\n"
        "def f(x: Any) -> None:\n"
        "    return os.sep\n"
    )
    assert _unused_imports(source) == [(3, "osp"), (4, "List")]


def test_package_has_no_unused_module_imports():
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{line}: {name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line, name in _unused_imports(path.read_text(encoding="utf-8"))
    ]
    assert found == []
