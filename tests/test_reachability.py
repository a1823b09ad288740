"""Every package module is reached from an engine entry point.

The entry points are the ``cmon`` CLI (``cli.py``, ``__main__.py``),
the query registry (``queries.py``, driven by ``__spark_entry__.py``)
and the crawl driver (``streaming/rounds.py``, whose ``run_crawl`` the
benchmarks call). Imports are followed statically with ``ast``,
including imports inside functions, so a module only a test imports
shows up as unreached.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cmoncrawl_spark"
ENTRY_MODULES = (
    f"{PKG}.cli",
    f"{PKG}.__main__",
    f"{PKG}.queries",
    f"{PKG}.streaming.rounds",
)
ENTRY_FILES = (os.path.join(REPO, "__spark_entry__.py"),)


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every ``.py`` in the package."""
    mods = {}
    root = os.path.join(REPO, PKG)
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), REPO)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = os.path.join(dirpath, f)
    return mods


def _imported_names(path: str) -> set[str]:
    """Every dotted name an import statement in ``path`` may load: the
    module itself and, for ``from m import x``, ``m.x`` too."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path}: relative imports are not followed"
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def unreached_modules() -> list[str]:
    mods = _package_modules()
    reached: set[str] = set()
    todo = list(ENTRY_FILES)

    def reach(name: str) -> None:
        # Importing a submodule also runs every enclosing package __init__.
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in mods and mod not in reached:
                reached.add(mod)
                todo.append(mods[mod])

    for m in ENTRY_MODULES:
        reach(m)
    while todo:
        for name in _imported_names(todo.pop()):
            reach(name)
    return sorted(set(mods) - reached)


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = unreached_modules()
    assert not unreached, (
        "modules no CLI command, query or crawl path imports "
        f"(wire them in or delete them): {unreached}"
    )
