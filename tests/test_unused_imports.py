"""Every name a package module imports is used: a parse of each module
with ``ast`` (no linter is installed, so this test is the lint)."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "iceberg_catalog_migrator_spark"


def _unused_imports(source: str) -> list[str]:
    """Names bound by an import in ``source`` and never referenced:
    ``__future__`` imports and names listed in ``__all__`` count as
    used."""
    tree = ast.parse(source)
    imported: dict[str, int] = {}
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name != "*":
                    imported.setdefault(name, node.lineno)
        elif isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            base = node
            while isinstance(base, ast.Attribute):
                base = base.value
            if isinstance(base, ast.Name):
                used.add(base.id)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used.update(
                e.value
                for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            )
    return [f"{n} (line {ln})" for n, ln in sorted(imported.items()) if n not in used]


def test_unused_import_scan_sees_unused_names():
    src = "import os\nfrom a import b, c as d\nfrom __future__ import annotations\n"
    src += "__all__ = ['b']\nprint(os.sep)\n"
    assert _unused_imports(src) == ["d (line 2)"]


def test_no_package_module_imports_an_unused_name():
    found = {
        str(p.relative_to(PACKAGE.parent)): names
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "__init__.py"
        for names in (_unused_imports(p.read_text()),)
        if names
    }
    assert found == {}
