"""Every module under ``sifts_spark/`` is reached from an entry point.

The entry points are the ``sifts_spark`` package, ``sifts_spark.collection``
and ``sifts_spark.plans.catalog`` (what ``__spark_entry__.py`` and
``tools/check_correctness.py`` load). The walk reads ``ast`` imports only,
module-level and function-level alike, so it needs no Spark session and
imports nothing. Importing ``a.b.c`` runs ``a`` and ``a.b`` first, so a
package counts as reached when any of its submodules is.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG_DIR = Path(__file__).resolve().parent.parent / "sifts_spark"
ENTRY_POINTS = ("sifts_spark", "sifts_spark.collection", "sifts_spark.plans.catalog")


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = ("sifts_spark",) + path.relative_to(PKG_DIR).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(name: str, path: Path) -> set[str]:
    """Dotted names that module ``name`` imports, relative ones resolved.
    ``from X import Y`` yields both ``X`` and ``X.Y`` (Y may be a module)."""
    is_pkg = path.name == "__init__.py"
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_pkg]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def reached_modules(modules: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        name = todo.pop()
        parts = name.split(".")
        # importing a.b.c runs a and a.b as well
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in seen:
                seen.add(mod)
                todo.extend(_imported_names(mod, modules[mod]))
    return seen


def test_every_library_module_is_reached_from_an_entry_point():
    modules = _package_modules()
    assert set(ENTRY_POINTS) <= set(modules)
    unreached = sorted(set(modules) - reached_modules(modules))
    assert not unreached, f"modules no entry point imports: {unreached}"
