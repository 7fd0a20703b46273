"""Every name a `kinesyslog_spark` module imports is used in that module.

Registration imports carry `# noqa: F401` (queries/__init__.py imports
each query module for its side effect, and that import order is the
query registry order); they are exempt. Names in `__all__` and in
quoted annotations count as used."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "kinesyslog_spark"


def _used_names(tree: ast.AST) -> set[str]:
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {
                e.value for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            }
        annotations = []
        if isinstance(node, (ast.arg, ast.AnnAssign)) and node.annotation:
            annotations.append(node.annotation)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.returns:
            annotations.append(node.returns)
        for ann in annotations:
            for sub in ast.walk(ann):
                if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                    used |= {
                        n.id for n in ast.walk(ast.parse(sub.value, mode="eval"))
                        if isinstance(n, ast.Name)
                    }
    return used


def _unused_imports(path: pathlib.Path) -> list[tuple[int, str]]:
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    used = _used_names(tree)
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa" in ln and "F401" in ln
               for ln in lines[node.lineno - 1:node.end_lineno]):
            continue
        for alias in node.names:
            name = (alias.asname or alias.name).split(".")[0]
            if name not in used:
                out.append((node.lineno, name))
    return out


def test_no_unused_imports():
    unused = [
        f"{path.relative_to(PKG.parent)}:{line}: {name}"
        for path in sorted(PKG.rglob("*.py"))
        for line, name in _unused_imports(path)
    ]
    assert unused == []


def test_check_sees_an_unused_import(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "import os\n"
        "from typing import TYPE_CHECKING\n"
        "import json  # noqa: F401\n"
        "if TYPE_CHECKING:\n"
        "    from decimal import Decimal\n"
        "def f(x: 'Decimal') -> None:\n"
        "    return TYPE_CHECKING\n"
    )
    assert _unused_imports(mod) == [(1, "os")]
