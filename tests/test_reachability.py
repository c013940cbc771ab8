"""Every package module is reached from the traffic roots.

The roots are what runs in production and in the benchmark: the driver
contract (``__spark_entry__.py``), ``bench.py`` and ``perfbench/*.py``.
The closure follows every ``import`` statement, including those inside
function bodies (plans import lazily).  ``from pkg import name``
resolves ``name`` to the module that defines it, through the package
``__init__``'s own imports, so a module that is only re-exported by an
``__init__`` and used by nothing else counts as unreached.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "nasa_asteroid_data_lakehouse_spark"

# sources/pyds.py: the ``rest_feed`` DataSource is the paper's bronze
# ingest (reference ``src/etl/bronze_ingest.py:18-37``), but it fetches
# from a live HTTP endpoint, so no registered query can run it against a
# DuckDB oracle; tests drive it against an in-process server.
UNREACHED_BY_DESIGN = {f"{PKG}.sources.pyds"}


def _modules() -> dict[str, str]:
    out = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
        out[name.removesuffix(".__init__")] = path
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _resolve(mods: dict[str, str], module: str, name: str) -> set[str]:
    """The package module(s) that ``from module import name`` loads."""
    if f"{module}.{name}" in mods:
        return {f"{module}.{name}"}
    path = mods.get(module)
    if path is None:
        return set()
    if path.endswith("__init__.py"):
        for node in _parse(path).body:
            if isinstance(node, ast.ImportFrom) and node.module:
                for alias in node.names:
                    if (alias.asname or alias.name) == name:
                        return _resolve(mods, node.module, alias.name)
    return {module}


def _imports(mods: dict[str, str], path: str, module: str | None) -> set[str]:
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names if a.name in mods}
        elif isinstance(node, ast.ImportFrom):
            target = node.module or ""
            if node.level:
                is_pkg = path.endswith("__init__.py")
                parts = module.split(".")[: len(module.split(".")) - node.level + is_pkg]
                target = ".".join(parts + ([target] if target else []))
            if target.split(".")[0] == PKG:
                for alias in node.names:
                    out |= _resolve(mods, target, alias.name)
    return out


def _reached(mods: dict[str, str]) -> set[str]:
    roots = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    roots += sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
    todo = [m for r in roots for m in _imports(mods, r, None)]
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo += _imports(mods, mods[m], m)
    return seen


def test_every_package_module_is_reached_from_a_traffic_root():
    mods = _modules()
    reached = _reached(mods)
    unreached = {
        m for m, p in mods.items()
        if m not in reached and not p.endswith("__init__.py")
    }
    assert unreached == UNREACHED_BY_DESIGN
