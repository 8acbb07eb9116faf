"""Every global name a function reads is bound at module level or is a
builtin — the check that catches a call to a deleted helper (a NameError
that only fires when that code path runs). Stdlib ``symtable`` only, so it
needs no linter."""

from __future__ import annotations

import builtins
import pathlib
import symtable

PKG = pathlib.Path(__file__).resolve().parent.parent / "nyc_taxi_pyspark_spark"
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
    return sorted({f"{path.relative_to(PKG.parent)}:{t.get_name()}: {s.get_name()}"
                   for t in tables if t.get_type() == "function"
                   for s in t.get_symbols()
                   if s.is_global() and s.is_referenced() and s.get_name() not in known})


def test_no_undefined_global_names():
    paths = sorted(PKG.rglob("*.py"))
    assert len(paths) > 10, PKG
    bad = [hit for path in paths for hit in _undefined(path)]
    assert not bad, "functions read names bound nowhere:\n" + "\n".join(bad)
