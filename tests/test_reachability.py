"""Every module of the package is reachable from an entry point.

An ``ast`` import walk (imports inside functions count) from
``__spark_entry__`` (entry/queries/oracle_sql), the console entry
``sec_xbrl_finwarehouse_spark.__main__`` and the HTTP app
``sec_xbrl_finwarehouse_spark.api``. A module no entry point imports is
dead code that only its own tests keep alive; this test fails when one
appears. No Spark needed.

``KNOWN_UNREACHED`` lists the modules that predate this guard and still
have no entry point: the streaming variants and the corpus-ingest
sources, kept with their own tests until a later change wires them in
or deletes them. The list may only shrink: the test fails when a module
outside it is unreached, and also when a listed module is deleted or
becomes reachable, so a stale entry cannot hide a new dead module.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sec_xbrl_finwarehouse_spark"
ENTRY_POINTS = ("__spark_entry__", f"{PACKAGE}.__main__", f"{PACKAGE}.api")
KNOWN_UNREACHED = frozenset(f"{PACKAGE}.{m}" for m in (
    "operators.skew",
    "plans.decontam_index",
    "sources.csv_docs",
    "sources.webdataset",
    "sources.webdataset_ingest",
    "streaming",
    "streaming.events_stream",
))


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
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    out: set[str] = set()
    for node in ast.walk(tree):
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
    unreached = package_modules() - reached
    new_dead = sorted(unreached - KNOWN_UNREACHED)
    assert not new_dead, f"modules no entry point imports: {new_dead}"
    stale = sorted(KNOWN_UNREACHED - unreached)
    assert not stale, f"drop from KNOWN_UNREACHED (gone or reached): {stale}"
