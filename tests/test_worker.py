"""Python-worker entry hygiene: ``release_zip_finders`` and its coverage.

(a) Dropping the zipimport finders keeps ``--py-files``-style zips
importable: the cache entry is rebuilt lazily on the next import miss.
(b) Every function the package ships to a Python worker calls the helper as
its first statement, so a new UDF cannot bring back the per-task
``importlib.invalidate_caches()`` floor over the JVM's PYTHONPATH zips.
"""

from __future__ import annotations

import ast
import importlib
import os
import sys
import zipfile
import zipimport

from anofox_forecast_spark._worker import release_zip_finders

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "anofox_forecast_spark")
HELPER = "release_zip_finders"
ENTRY_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState"}


def _zip_finders() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_release_zip_finders_keeps_zip_imports_working(tmp_path):
    archive = tmp_path / "zipped_mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zw_first_mod.py", "VALUE = 1\n")
        z.writestr("zw_second_mod.py", "VALUE = 2\n")
    sys.path.insert(0, str(archive))
    try:
        first = importlib.import_module("zw_first_mod")
        assert first.VALUE == 1
        assert str(archive) in _zip_finders()

        release_zip_finders()
        assert _zip_finders() == []

        second = importlib.import_module("zw_second_mod")
        assert second.VALUE == 2
        assert str(archive) in _zip_finders()  # rebuilt lazily on the miss
    finally:
        sys.path.remove(str(archive))
        sys.path_importer_cache.pop(str(archive), None)
        for name in ("zw_first_mod", "zw_second_mod"):
            sys.modules.pop(name, None)


def _is_pandas_udf(node: ast.expr) -> bool:
    return ((isinstance(node, ast.Name) and node.id == "pandas_udf")
            or (isinstance(node, ast.Attribute) and node.attr == "pandas_udf"))


def _calls_helper_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)):
        body = body[1:]  # skip the docstring
    if not body or not isinstance(body[0], ast.Expr):
        return False
    call = body[0].value
    return (isinstance(call, ast.Call) and isinstance(call.func, ast.Name)
            and call.func.id == HELPER and not call.args and not call.keywords)


def worker_entry_points(tree: ast.Module) -> tuple[list[ast.FunctionDef], list[str]]:
    """Functions a module ships to a Python worker, plus unresolvable sites.

    An entry point is a function decorated with ``pandas_udf`` (bare or
    called, ``F.`` or imported), or a function named by the first argument
    of a ``mapInPandas``/``mapInArrow``/``applyInPandas``/
    ``applyInPandasWithState``/``pandas_udf`` call, resolved through the
    enclosing function scopes out to module level.
    """
    found: dict[int, ast.FunctionDef] = {}
    unresolved: list[str] = []

    def visit(node: ast.AST, scopes: list[dict[str, ast.FunctionDef]]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if any(_is_pandas_udf(d.func if isinstance(d, ast.Call) else d)
                   for d in node.decorator_list):
                found[id(node)] = node
            local = {c.name: c for c in ast.walk(node)
                     if isinstance(c, (ast.FunctionDef, ast.AsyncFunctionDef)) and c is not node}
            scopes = [*scopes, local]
        elif isinstance(node, ast.Call):
            f = node.func
            ships = isinstance(f, ast.Attribute) and f.attr in ENTRY_METHODS
            maybe_udf = _is_pandas_udf(f)  # pandas_udf(fn, type) call form
            if (ships or maybe_udf) and node.args:
                arg = node.args[0]
                target = None
                if isinstance(arg, ast.Name):
                    target = next((s[arg.id] for s in reversed(scopes) if arg.id in s), None)
                if target is not None:
                    found[id(target)] = target
                elif ships:
                    unresolved.append(f"line {node.lineno}: {ast.unparse(arg)}")
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    module_scope = {n.name: n for n in tree.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
    visit(tree, [module_scope])
    return list(found.values()), unresolved


def _package_sources():
    for root, dirs, files in os.walk(PKG):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read(), path)


def test_every_worker_entry_point_releases_zip_finders_first():
    entries, missing, unresolved = 0, [], []
    for rel, tree in _package_sources():
        fns, bad = worker_entry_points(tree)
        entries += len(fns)
        missing += [f"{rel}:{fn.lineno} {fn.name}" for fn in fns if not _calls_helper_first(fn)]
        unresolved += [f"{rel} {b}" for b in bad]
    assert not unresolved, (
        "pass a named function defined in scope so its first statement can be "
        f"checked: {unresolved}")
    assert not missing, f"first statement must be {HELPER}(): {missing}"
    # a scanner that silently matched nothing would pass vacuously
    assert entries >= 25, entries
