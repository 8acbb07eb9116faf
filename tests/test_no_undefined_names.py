"""Every global name a function reads is bound at module level or is a
builtin — the check that catches a call to a deleted helper (a NameError
that only fires when that code path runs) — and every module-level import
of the scripts and the driver contract resolves, which catches an import of
a deleted module. Stdlib ``symtable``/``ast`` only, so it needs no linter."""

from __future__ import annotations

import ast
import builtins
import importlib.util
import pathlib
import symtable

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "nyc_taxi_pyspark_spark"
# Files no test imports whole: a dangling name or import there stays silent.
LOOSE = sorted((ROOT / "scripts").glob("*.py")) + [ROOT / "__spark_entry__.py"]
MODULE_DUNDERS = {"__name__", "__file__", "__doc__", "__spec__", "__path__",
                  "__package__", "__loader__", "__builtins__"}


def _walk(table):
    yield table
    for child in table.get_children():
        yield from _walk(child)


def _undefined(path: pathlib.Path) -> list[str]:
    top = symtable.symtable(path.read_text(), str(path), "exec")
    bound = {s.get_name() for s in top.get_symbols() if s.is_assigned() or s.is_imported()}
    tables = list(_walk(top))[1:]
    for t in tables:  # `global x` + an assignment inside a function binds x
        bound |= {s.get_name() for s in t.get_symbols()
                  if s.is_declared_global() and s.is_assigned()}
    known = bound | set(dir(builtins)) | MODULE_DUNDERS
    return sorted({f"{path.relative_to(ROOT)}:{t.get_name()}: {s.get_name()}"
                   for t in tables if t.get_type() == "function"
                   for s in t.get_symbols()
                   if s.is_global() and s.is_referenced() and s.get_name() not in known})


def test_no_undefined_global_names():
    paths = sorted(PKG.rglob("*.py")) + LOOSE
    assert len(paths) > 10, PKG
    bad = [hit for path in paths for hit in _undefined(path)]
    assert not bad, "functions read names bound nowhere:\n" + "\n".join(bad)


def test_module_level_imports_resolve(monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT / "scripts"))
    monkeypatch.syspath_prepend(str(ROOT))
    modules = {
        (path.relative_to(ROOT), name)
        for path in LOOSE
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for name in ([node.module] if isinstance(node, ast.ImportFrom)
                     else [alias.name for alias in node.names])
    }
    assert len(modules) > 10
    bad = [f"{path}: {name}" for path, name in sorted(modules)
           if importlib.util.find_spec(name) is None]
    assert not bad, "imports that resolve to no module:\n" + "\n".join(bad)
