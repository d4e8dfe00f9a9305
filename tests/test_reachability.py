"""Every module, and every public top-level name, of the package is
reachable from an entry point.

An ``ast`` import walk (imports inside functions count) from
``__spark_entry__`` (entry/queries/oracle_sql), the console entry
``sec_xbrl_finwarehouse_spark.__main__`` and the HTTP app
``sec_xbrl_finwarehouse_spark.api``. A module no entry point imports is
dead code that only its own tests keep alive; this test fails when one
appears. No Spark needed.

The name pass applies the same rule one level down: every public
top-level function and class of every package module must be referenced
(as a name, an attribute or an imported name -- matched by bare name)
from a reached module, ``__spark_entry__.py`` or ``perfbench/``. String
constants in ``perfbench/`` count too, because the tracer wraps
functions by name. A package ``__init__.py`` counts only for what its
code uses, not for the names it imports: a re-export is not a use. A
name only ``tests/`` use is dead code its tests keep alive.
``KNOWN_TEST_ONLY`` freezes the names that predate the pass. It may
only shrink: the test fails when a name outside it is used only
by tests, and also when a listed name is deleted or becomes used, so a
stale entry cannot hide a new dead name.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sec_xbrl_finwarehouse_spark"
ENTRY_POINTS = ("__spark_entry__", f"{PACKAGE}.__main__", f"{PACKAGE}.api")
KNOWN_TEST_ONLY = frozenset(
    f"{PACKAGE}.{module}.{name}"
    for module, names in {
        "materialize": ("attach_warehouse", "build_all_marts",
                        "refresh_marts_incremental"),
    }.items()
    for name in names
)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _path(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(p):
            return p
    return None


def _imports(module: str, path: str) -> set[str]:
    """Module names ``path`` imports, resolved against the repo root;
    ``from m import x`` yields ``m.x`` too when that is a module."""
    is_pkg = path.endswith("__init__.py")
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = module.split(".")
                anchor = parts[: len(parts) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def reachable() -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        mod = todo.pop()
        if mod in seen or _path(mod) is None:
            continue
        seen.add(mod)
        parts = mod.split(".")
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(mod, _path(mod)))
    return seen


def package_modules() -> set[str]:
    mods = set()
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for fn in files:
            if fn.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, fn), ROOT)[:-3]
                mod = rel.replace(os.sep, ".")
                mods.add(mod[: -len(".__init__")] if mod.endswith(".__init__") else mod)
    return mods


def test_every_package_module_is_reached_from_an_entry_point():
    reached = reachable()
    # cli imports sec_client only inside command bodies: the walk must
    # see imports inside functions
    assert f"{PACKAGE}.sources.sec_client" in reached
    unreached = sorted(package_modules() - reached)
    assert not unreached, f"modules no entry point imports: {unreached}"


def _references(path: str, strings: bool = False) -> set[str]:
    """Bare names ``path`` uses: names, attributes, imported names
    (except in an ``__init__.py``, where an import is a re-export) and,
    with ``strings``, string constants."""
    reexports = path.endswith("__init__.py")
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias) and not reexports:
            out.add(node.name.rsplit(".", 1)[-1])
        elif strings and isinstance(node, ast.Constant) \
                and isinstance(node.value, str):
            out.add(node.value)
    return out


def live_references() -> set[str]:
    live = _references(os.path.join(ROOT, "__spark_entry__.py"))
    for mod in reachable():
        if mod.startswith(PACKAGE):
            live |= _references(_path(mod))
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, "perfbench")):
        for fn in files:
            if fn.endswith(".py"):
                live |= _references(os.path.join(dirpath, fn), strings=True)
    return live


def public_names() -> set[str]:
    """``module.name`` of every public top-level function and class."""
    return {
        f"{mod}.{node.name}"
        for mod in package_modules()
        for node in _parse(_path(mod)).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))
        and not node.name.startswith("_")
    }


def test_every_public_name_is_used_outside_tests():
    live = live_references()
    test_only = {q for q in public_names() if q.rsplit(".", 1)[1] not in live}
    new_dead = sorted(test_only - KNOWN_TEST_ONLY)
    assert not new_dead, f"public names only tests use: {new_dead}"
    stale = sorted(KNOWN_TEST_ONLY - test_only)
    assert not stale, f"drop from KNOWN_TEST_ONLY (gone or used): {stale}"
