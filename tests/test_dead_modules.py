"""Dead-code guards over the package, the tests, the jobs, the tools,
the benchmark, ``__spark_entry__.py`` and the bench scripts:

- every module of the package must be imported by one of those files;
  a module only its own file imports is dead code and fails here;
- every top-level function or class of the package outside ``oracle/``
  must be referenced by name in one of those files; its own module's
  ``__all__`` does not count as a reference. ``oracle/`` holds
  the reference implementations and keys the benchmark's cached
  universe, so it is left out;
- no package module outside ``oracle/`` may import ``oracle/``."""

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
    found: set[str] = set()
    for node in ast.walk(_parse(path)):
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


def _package_files() -> list[str]:
    return glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)


def _scanned_files() -> list[str]:
    return _package_files() + [
        p for pattern in ("tests/**/*.py", "jobs/**/*.py", "tools/**/*.py",
                          "perfbench/**/*.py", "__spark_entry__.py",
                          "bench*.py")
        for p in glob.glob(os.path.join(REPO, pattern), recursive=True)
    ]


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _own_all(tree: ast.Module) -> ast.AST | None:
    """The module's own top-level ``__all__`` assignment, if any."""
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in node.targets):
            return node
    return None


def _referenced_names(tree: ast.Module) -> tuple[set[str], set[str]]:
    """Names a file uses: ``ast.Name`` ids, attribute names, imported
    names and their aliases, and exact string constants. The strings of
    the file's own ``__all__`` come back apart, as the second set: a
    module listing its own name in ``__all__`` does not use it."""
    own_all = _own_all(tree)
    skip = {id(n) for n in ast.walk(own_all)} if own_all else set()
    found: set[str] = set()
    exported: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            found.add(node.id)
        elif isinstance(node, ast.Attribute):
            found.add(node.attr)
        elif isinstance(node, ast.alias):
            found.add(node.name.rpartition(".")[2])
            if node.asname:
                found.add(node.asname)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            (exported if id(node) in skip else found).add(node.value)
    return found, exported


def test_every_package_module_is_imported():
    pkg_files = _package_files()
    modules = {_module_name(p) for p in pkg_files}
    imported: set[str] = set()
    for path in _scanned_files():
        imported |= _imports(path, modules)
    dead = sorted(modules - imported - {PKG})
    assert not dead, f"modules nothing imports: {dead}"


def test_every_package_function_is_referenced():
    """A name counts as referenced when any scanned file uses it, or
    when the ``__all__`` of a file other than its own lists it."""
    oracle = os.path.join(REPO, PKG, "oracle") + os.sep
    defined: dict[str, tuple[str, str]] = {}
    for path in _package_files():
        if path.startswith(oracle):
            continue
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defined[f"{_module_name(path)}.{node.name}"] = (
                    path, node.name)
    referenced: set[str] = set()
    exported: dict[str, set[str]] = {}
    for path in _scanned_files():
        referenced_here, exported[path] = _referenced_names(_parse(path))
        referenced |= referenced_here
    dead = sorted(
        q for q, (home, name) in defined.items()
        if name not in referenced and not any(
            name in names for path, names in exported.items()
            if path != home))
    assert not dead, f"{len(dead)} functions nothing references: {dead}"


def test_only_the_oracle_names_the_plain_extract_one():
    """Production code matches fixed vocabularies through
    ``fuzzy.Vocabulary``/``fuzzy.AliasMap``. The plain
    ``fuzzy.extract_one`` loop is the oracle's independent reference:
    a package module outside ``oracle/`` that names it brings a second
    matcher back, and the oracle would then check it against itself."""
    oracle = os.path.join(REPO, PKG, "oracle") + os.sep
    named = sorted(
        _module_name(path) for path in _package_files()
        if not path.startswith(oracle) and any(
            (isinstance(node, ast.Attribute) and node.attr == "extract_one")
            or (isinstance(node, ast.alias) and node.name == "extract_one")
            for node in ast.walk(_parse(path))))
    assert not named, f"modules outside oracle/ naming extract_one: {named}"


def test_only_the_oracle_imports_the_oracle():
    """``oracle/`` is the tests' independent reference and never runs on
    executors: a package module outside it that imports any of it
    makes the oracle check code it is part of."""
    oracle = os.path.join(REPO, PKG, "oracle") + os.sep
    pkg_files = _package_files()
    modules = {_module_name(p) for p in pkg_files}
    importers = sorted(
        _module_name(path) for path in pkg_files
        if not path.startswith(oracle) and any(
            m == f"{PKG}.oracle" or m.startswith(f"{PKG}.oracle.")
            for m in _imports(path, modules)))
    assert not importers, f"modules outside oracle/ importing it: {importers}"
