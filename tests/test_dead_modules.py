"""Dead-code guards over the package, the tests, the jobs, the tools,
the benchmark, ``__spark_entry__.py`` and the bench scripts:

- every module of the package must be imported by one of those files;
  a module only its own file imports is dead code and fails here;
- every top-level function or class of the package outside ``oracle/``
  must be referenced by name in one of those files other than the
  tests; its own module's ``__all__`` does not count as a reference.
  ``oracle/`` holds the reference implementations and keys the
  benchmark's cached universe, so it is left out;
- no package module outside ``oracle/`` may import ``oracle/``;
- no defaulted parameter of the package outside ``oracle/`` and the
  corpus generator (which also keys that universe) may have one value
  in use: such a setting is a constant;
- a driver query reaches its table only through ``queries._read``, and
  its own Python stage only through ``queries._map_rows``."""

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


# The verification twins the tests compare the Arrow kernels against:
# production runs the kernels, so only tests name these.
TEST_REFERENCES = {f"{PKG}.operators.dedup.minhash_signature",
                   f"{PKG}.operators.dedup.simhash32"}


def test_every_package_function_is_referenced():
    """A name counts as referenced when a scanned file outside
    ``tests/`` uses it, or when the ``__all__`` of a file other than its
    own lists it: code that only tests run is not part of the program.
    ``TEST_REFERENCES`` names the only exceptions."""
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
    tests_dir = os.path.join(REPO, "tests") + os.sep
    for path in _scanned_files():
        if path.startswith(tests_dir):
            continue
        referenced_here, exported[path] = _referenced_names(_parse(path))
        referenced |= referenced_here
    dead = sorted(
        q for q, (home, name) in defined.items()
        if q not in TEST_REFERENCES and name not in referenced and not any(
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


def _literal(node: ast.AST) -> str | object:
    """The ``repr`` of a literal expression's value; any other
    expression is a fresh ``object()``, unequal to every value."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError):
        return object()


def _value(default: ast.AST) -> str:
    """A default's value: a literal's ``repr``, or the source of a name
    or other expression, which every call that omits it shares."""
    value = _literal(default)
    return value if isinstance(value, str) else ast.unparse(default)


def _defaulted_params(fn: ast.FunctionDef | ast.AsyncFunctionDef,
                      method: bool):
    """``(name, positional index or None, default)`` per defaulted
    parameter; the index counts from the first argument a call passes
    (``self``/``cls`` dropped for methods)."""
    pos = fn.args.posonlyargs + fn.args.args
    skip = 1 if method else 0
    first_default = len(pos) - len(fn.args.defaults)
    out = [(a.arg, i - skip if i >= skip else None,
            fn.args.defaults[i - first_default])
           for i, a in enumerate(pos) if i >= first_default]
    out += [(a.arg, None, d)
            for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
            if d is not None]
    return out


def _package_callables():
    """``{call name: [(qualified name, defaulted params)]}`` for every
    function and method of the package outside ``oracle/`` and the
    generator; a class's ``__init__`` is called by the class name."""
    oracle = os.path.join(REPO, PKG, "oracle") + os.sep
    generator = os.path.join(REPO, PKG, "corpus", "generator.py")
    out: dict[str, list] = {}

    def add(call_name, qual, fn, method):
        params = _defaulted_params(fn, method)
        if params:
            out.setdefault(call_name, []).append((qual, params))

    for path in _package_files():
        if path.startswith(oracle) or path == generator:
            continue
        mod = _module_name(path)
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                add(node.name, f"{mod}.{node.name}", node, False)
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if not isinstance(item, (ast.FunctionDef,
                                             ast.AsyncFunctionDef)):
                        continue
                    static = any(isinstance(d, ast.Name)
                                 and d.id == "staticmethod"
                                 for d in item.decorator_list)
                    call = node.name if item.name == "__init__" else item.name
                    add(call, f"{mod}.{node.name}.{item.name}", item,
                        not static)
    return out


def _calls(path: str):
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Call):
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name:
                yield name, node


def _passed(call: ast.Call, name: str, index: int | None):
    """The expression ``call`` passes for the parameter, ``None`` when it
    omits it, or ``...`` when a ``*``/``**`` argument may carry it."""
    for kw in call.keywords:
        if kw.arg == name:
            return kw.value
    if any(kw.arg is None for kw in call.keywords):
        return ...
    if index is not None:
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                return ...
            if i == index:
                return arg
    return None


def test_no_parameter_has_one_value():
    """A defaulted parameter of a package function (outside ``oracle/``
    and the generator, as above) that receives one literal at every
    call site outside ``tests/`` (the default where a call omits it),
    and that no test passes, is a constant and must be written as one.
    A call matches every package function of its name; any argument
    that is not a literal, or a ``*``/``**`` argument, counts as a
    second value."""
    tests_dir = os.path.join(REPO, "tests") + os.sep
    callables = _package_callables()
    values: dict[tuple[str, str], set] = {}
    by_tests: set[tuple[str, str]] = set()
    for path in _scanned_files():
        in_tests = path.startswith(tests_dir)
        for call_name, call in _calls(path):
            for qual, params in callables.get(call_name, ()):
                for name, index, default in params:
                    key = (qual, name)
                    expr = _passed(call, name, index)
                    if in_tests:
                        if expr is not None:
                            by_tests.add(key)
                        continue
                    values.setdefault(key, set()).add(
                        _value(default) if expr is None
                        else object() if expr is ... else
                        _literal(expr))
    constant = sorted(f"{q}.{n}" for (q, n), vs in values.items()
                      if len(vs) == 1 and isinstance(next(iter(vs)), str)
                      and (q, n) not in by_tests)
    assert not constant, (
        f"{len(constant)} parameters with one value in use: {constant}")


def _sites(paths, match) -> set[str]:
    """``module.function`` (``module`` at top level) of every node in
    ``paths`` that ``match`` accepts, named by its top-level
    enclosing definition."""
    found: set[str] = set()
    for path in paths:
        mod = _module_name(path)
        for top in _parse(path).body:
            where = (f"{mod}.{top.name}" if isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                else mod)
            found |= {where for node in ast.walk(top) if match(node)}
    return found


def test_driver_queries_reach_tables_only_through_read():
    """``queries._read`` is the one place that applies the session conf,
    reads a testdata table and applies the footer fan-out gate; the
    pipeline's ``_extract`` applies the conf for the sessions it is
    handed. A second reader or conf call in the package is a second
    way in."""
    reads = _sites(_package_files(), lambda n: (
        isinstance(n, ast.Attribute) and n.attr == "parquet"
        and isinstance(n.value, ast.Attribute) and n.value.attr == "read"))
    assert reads == {f"{PKG}.queries._read"}, sorted(reads)
    confs = _sites(_package_files(), lambda n: (
        isinstance(n, ast.Call) and "ensure_session_conf" in (
            getattr(n.func, "id", None), getattr(n.func, "attr", None))))
    assert confs == {f"{PKG}.queries._read", f"{PKG}.pipeline._extract"}, \
        sorted(confs)


def test_query_stages_map_only_through_the_row_helper():
    """A driver query's Python stage is a row function passed to
    ``queries._map_rows``, the one ``mapInPandas`` of the query modules
    and the e2e fixture."""
    paths = glob.glob(os.path.join(REPO, PKG, "queries*.py")) + [
        os.path.join(REPO, PKG, "corpus", "e2e_fixture.py")]
    maps = _sites(paths, lambda n: (
        isinstance(n, ast.Attribute) and n.attr == "mapInPandas"))
    assert maps == {f"{PKG}.queries._map_rows"}, sorted(maps)
