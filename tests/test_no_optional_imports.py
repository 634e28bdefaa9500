"""Each operator has one code path, whatever libraries are importable: no
package module may import an optional library, because a module that does
branches on whether it loaded. The gridding, export, decode and image
operators run their numpy implementations only; the differentials against
these libraries live in the tests, skip-gated.
"""

from __future__ import annotations

import ast
from pathlib import Path

import oco3_data_transformer_spark

OPTIONAL_LIBRARIES = {"scipy", "rasterio", "xarray", "h5netcdf", "PIL", "pyproj"}

PACKAGE_DIR = Path(oco3_data_transformer_spark.__file__).parent


def _imported_roots(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            yield node.lineno, node.module.split(".")[0]


def test_package_imports_no_optional_library():
    modules = sorted(PACKAGE_DIR.rglob("*.py"))
    assert len(modules) > 50  # the walk found the package
    hits = []
    for path in modules:
        tree = ast.parse(path.read_text(), filename=str(path))
        for lineno, root in _imported_roots(tree):
            if root in OPTIONAL_LIBRARIES:
                hits.append(f"{path.relative_to(PACKAGE_DIR)}:{lineno} imports {root}")
    assert not hits, "\n".join(hits)
