"""Every name a package module imports is used, and every module-level
private function or class it defines is referenced somewhere: a parse
of each module with ``ast`` (no linter is installed, so this test is
the lint)."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "iceberg_catalog_migrator_spark"
# where a reference to a package name may live
SOURCES = (PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench")


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


def _private_defs(source: str) -> list[str]:
    """Module-level private functions and classes of ``source``. A
    decorated one is left out: its decorator registers it."""
    return [
        node.name
        for node in ast.parse(source).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name.startswith("_")
        and not node.name.startswith("__")
        and not node.decorator_list
    ]


def _references(source: str) -> set[str]:
    """Every name ``source`` reads, imports, takes as an attribute or
    spells as an identifier string (``getattr``, ``monkeypatch``)."""
    refs = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.split(".")[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                refs.add(node.value)
    return refs


def test_dead_private_scan_sees_unreferenced_defs():
    src = (
        "def _used():\n    pass\n\ndef _dead():\n    pass\n\n"
        "class _Dead:\n    pass\n\n@register\ndef _registered():\n    pass\n\n"
        "def __dunder__():\n    pass\n\nprint(_used())\n"
    )
    dead = [d for d in _private_defs(src) if d not in _references(src)]
    assert dead == ["_dead", "_Dead"]


def test_no_package_module_defines_dead_private_code():
    files = [ROOT / "bench.py"] + [p for d in SOURCES for p in sorted(d.rglob("*.py"))]
    refs = set().union(*(_references(p.read_text()) for p in files))
    found = {
        str(p.relative_to(PACKAGE.parent)): dead
        for p in sorted(PACKAGE.rglob("*.py"))
        for dead in ([d for d in _private_defs(p.read_text()) if d not in refs],)
        if dead
    }
    assert found == {}
