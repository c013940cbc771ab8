"""Every package module is reached from the traffic roots, and every
top-level name in the package is used by some non-test code.

The roots are what runs in production and in the benchmark: the driver
contract (``__spark_entry__.py``), ``bench.py`` and ``perfbench/*.py``.
The closure follows every ``import`` statement, including those inside
function bodies (plans import lazily).  ``from pkg import name``
resolves ``name`` to the module that defines it, through the package
``__init__``'s own imports, so a module that is only re-exported by an
``__init__`` and used by nothing else counts as unreached.

The name check counts ``ast`` ``Name`` and ``Attribute`` nodes in every
non-test ``.py`` file, minus those inside the name's own definition.
Import statements (so ``__init__`` re-exports), ``__all__`` strings,
docstrings and comments are not such nodes, so they do not count.
Reading the ``ast`` (not a token stream) also sees the calls inside
f-string SQL, which a token scan reads as one string.
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

# Top-level names no non-test code uses, kept on purpose:
UNCALLED_BY_DESIGN = {
    # serving API: the stand-in for the reference's DuckDB catalog page
    # (temp views over every table of one scale-factor dir)
    f"{PKG}.catalog.Catalog",
    # serving API: every table of one scale-factor dir as DataFrames
    f"{PKG}.catalog.load_tables",
    # deployment setting for object-store tables; no local run needs it
    f"{PKG}.session.configure_s3a",
    # the exactly-once audit API tests use to check a sink's bookkeeping
    f"{PKG}.streaming.lakehouse.applied_stream_batches",
    # the file stream source tests use to drive the kept stream operators
    f"{PKG}.streaming.events.read_event_stream",
}


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


def _references(path: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Name):
            out[node.id] = out.get(node.id, 0) + 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] = out.get(node.attr, 0) + 1
    return out


def _uncalled(mods: dict[str, str]) -> set[str]:
    """``module.name`` of each top-level function or class that no
    non-test file references outside its own definition."""
    tests = os.path.join(ROOT, "tests") + os.sep
    refs: dict[str, int] = {}
    for path in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True):
        if not path.startswith(tests):
            for name, n in _references(path).items():
                refs[name] = refs.get(name, 0) + n
    out = set()
    for module, path in mods.items():
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                own = sum(
                    1
                    for n in ast.walk(node)
                    if (isinstance(n, ast.Name) and n.id == node.name)
                    or (isinstance(n, ast.Attribute) and n.attr == node.name)
                )
                if refs.get(node.name, 0) <= own:
                    out.add(f"{module}.{node.name}")
    return out


def test_every_package_name_is_used_outside_the_tests():
    uncalled = _uncalled(_modules())
    extra = sorted(uncalled - UNCALLED_BY_DESIGN)
    assert not extra, "used by tests only:\n" + "\n".join(extra)
    assert uncalled >= UNCALLED_BY_DESIGN, "stale UNCALLED_BY_DESIGN entries"
