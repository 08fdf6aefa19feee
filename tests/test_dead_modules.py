"""Dead-module guard: every module of the package must be imported by
something — the package itself, the tests, the jobs, the tools, the
benchmark, ``__spark_entry__.py`` or the bench scripts. A module only
its own file imports is dead code and fails here."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "indonesian_id_ocr_service_spark"


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[:-len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _imports(path: str, modules: set[str]) -> set[str]:
    """Package modules ``path`` imports, parents included (importing
    a.b.c runs a and a.b)."""
    name = _module_name(path)
    package = (name if path.endswith("__init__.py")
               else name.rpartition(".")[0])
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[:len(parts) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            found.add(base)
            found |= {f"{base}.{a.name}" for a in node.names}
    out: set[str] = set()
    for mod in found:
        parts = mod.split(".")
        out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return (out & modules) - {name}


def test_every_package_module_is_imported():
    pkg_files = glob.glob(os.path.join(REPO, PKG, "**", "*.py"),
                          recursive=True)
    modules = {_module_name(p) for p in pkg_files}
    importers = pkg_files + [
        p for pattern in ("tests/**/*.py", "jobs/**/*.py", "tools/**/*.py",
                          "perfbench/**/*.py", "__spark_entry__.py",
                          "bench*.py")
        for p in glob.glob(os.path.join(REPO, pattern), recursive=True)
    ]
    imported: set[str] = set()
    for path in importers:
        imported |= _imports(path, modules)
    dead = sorted(modules - imported - {PKG})
    assert not dead, f"modules nothing imports: {dead}"
