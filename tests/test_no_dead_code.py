"""Every module-level function and class in the package is named somewhere in
the repo's Python outside its own ``def`` line: by a caller, an import, a test
or a string such as a ``getattr`` lookup. A definition nothing names never
runs, so it goes. The ``@register``-decorated catalog queries are reached
through the registry by name and are exempt, as are dunders.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import oco3_data_transformer_spark

PACKAGE_DIR = Path(oco3_data_transformer_spark.__file__).parent
REPO_DIR = PACKAGE_DIR.parent

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _repo_sources():
    for path in sorted(REPO_DIR.rglob("*.py")):
        parts = path.relative_to(REPO_DIR).parts
        if any(p.startswith(".") or p == "__pycache__" for p in parts):
            continue
        yield path


def _is_registered(node) -> bool:
    for dec in node.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


def _module_defs(path: Path):
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        if _is_registered(node) or (node.name.startswith("__") and node.name.endswith("__")):
            continue
        yield node


def test_every_package_def_is_named_outside_its_def_line():
    uses: Counter[str] = Counter()
    for path in _repo_sources():
        uses.update(_IDENT.findall(path.read_text()))
    modules = sorted(PACKAGE_DIR.rglob("*.py"))
    assert len(modules) > 50  # the walk found the package
    defs = []
    for path in modules:
        lines = path.read_text().splitlines()
        for node in _module_defs(path):
            # a def line names itself; that does not count as a use
            uses[node.name] -= _IDENT.findall(lines[node.lineno - 1]).count(node.name)
            defs.append((path, node))
    dead = [
        f"{path.relative_to(PACKAGE_DIR)}:{node.lineno} {node.name}"
        for path, node in defs
        if uses[node.name] <= 0
    ]
    assert not dead, "named nowhere outside their def line:\n" + "\n".join(dead)
