"""Session state has one home, ``catalog._cache.STATE``: no module of the
package keeps a lock or an empty container at module level, the shape of a
private registry beside the store. Stdlib ``ast`` only, so it needs no JVM.

The allowed bindings are the query registry, filled once at import, and the
footer-sniffed timestamp units, which ``STATE.invalidate()`` clears."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "nyc_taxi_pyspark_spark"
ALLOWED = {
    ("catalog/registry.py", "QUERIES"),
    ("catalog/registry.py", "ORACLES"),
    ("sources/io.py", "_TS_UNIT_CACHE"),
}
LOCKS = {"Lock", "RLock"}
EMPTY_CALLS = {"set", "dict", "list"}


def _called(value: ast.expr) -> str | None:
    """The name a call expression calls (``threading.Lock()`` -> ``Lock``)."""
    if not isinstance(value, ast.Call):
        return None
    f = value.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _is_state(value: ast.expr) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, (ast.List, ast.Set)):
        return not value.elts
    name = _called(value)
    if name in LOCKS:
        return True
    return name in EMPTY_CALLS and not value.args and not value.keywords


def _module_state(path: pathlib.Path) -> list[tuple[str, str]]:
    rel = path.relative_to(PKG).as_posix()
    hits = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        if _is_state(value):
            hits += [(rel, ast.unparse(t)) for t in targets]
    return hits


def test_no_module_level_registry():
    paths = sorted(PKG.rglob("*.py"))
    assert len(paths) > 10, PKG
    found = [hit for path in paths for hit in _module_state(path)]
    assert ALLOWED <= set(found), "the scan no longer sees the allowed bindings"
    bad = [f"{rel}: {name}" for rel, name in found if (rel, name) not in ALLOWED]
    assert not bad, "module-level locks or empty containers:\n" + "\n".join(bad)
