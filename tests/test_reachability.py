"""Every package module, and every top-level function and class in
it, is reached from an engine entry point.

The entry points are the ``cmon`` CLI (``cli.py``, ``__main__.py``),
the query registry (``queries.py``, driven by ``__spark_entry__.py``)
and the crawl driver (``streaming/rounds.py``, whose ``run_crawl`` the
benchmarks call). Imports are followed statically with ``ast``,
including imports inside functions, so a module only a test imports
shows up as unreached. Per function, name references are followed
from the entry modules' code (annotations do not count), so a helper
only a test calls shows up too; ``EXEMPT`` lists the few kept anyway.
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


# ------------------------------------------------------- per function

#: top-level names kept although no engine entry point reaches them.
#: Each is a root of the walk, so what it calls is reached too.
EXEMPT = {
    # perfbench times these stages one by one
    (f"{PKG}.operators.frontier", "canonicalize"),
    (f"{PKG}.sinks.jsonl", "count_output_files"),
    (f"{PKG}.sources.jsonl", "read_domain_records"),
    # pure-Python oracles the Column versions are tested against
    (f"{PKG}.functions.urls", "unify_url_id_py"),
    (f"{PKG}.functions.psl", "registered_domain_py"),
    # the seam real image and audio codecs are tested through
    (f"{PKG}.operators.multimodal", "set_image_decoder"),
    (f"{PKG}.operators.multimodal", "set_audio_decoder"),
}


class _Module:
    """One module's top-level defs and the names its imports bind."""

    def __init__(self, name: str, path: str, mods: dict[str, str]) -> None:
        self.name = name
        with open(path, encoding="utf-8") as fh:
            self.tree = ast.parse(fh.read(), filename=path)
        self.defs = {
            n.name: n
            for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        # local name -> (module, attribute or None for the module itself)
        self.binds: dict[str, tuple[str, str | None]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.binds[a.asname] = (a.name, None)
                    else:
                        top = a.name.split(".")[0]
                        self.binds[top] = (top, None)
            elif isinstance(node, ast.ImportFrom):
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    self.binds[a.asname or a.name] = (
                        (sub, None) if sub in mods else (node.module, a.name)
                    )


def _references(node: ast.AST):
    """Every Name and dotted Attribute chain under ``node``, as a tuple
    of identifiers, leaving annotations out."""
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = n.args
            stack += n.decorator_list + a.defaults + [d for d in a.kw_defaults if d]
            stack += n.body
            continue
        if isinstance(n, ast.AnnAssign):
            stack += [n.target] + ([n.value] if n.value else [])
            continue
        if isinstance(n, ast.Attribute):
            chain = []
            base: ast.AST = n
            while isinstance(base, ast.Attribute):
                chain.append(base.attr)
                base = base.value
            if isinstance(base, ast.Name):
                yield (base.id, *reversed(chain))
                continue
        elif isinstance(n, ast.Name):
            yield (n.id,)
        stack.extend(ast.iter_child_nodes(n))


def unreached_functions(exempt=EXEMPT) -> list[str]:
    """Top-level defs and classes of reached package modules that no
    name reference reaches from the entry modules' code.

    A name resolves through the module's own defs and the names its
    imports bind (an import inside a function counts module-wide); a
    dotted chain follows submodules down to the attribute."""
    paths = _package_modules()
    unreached_mods = set(unreached_modules())
    mods = {
        m: _Module(m, p, paths) for m, p in paths.items() if m not in unreached_mods
    }
    reached: set[tuple[str, str]] = set()
    todo: list[tuple[_Module, ast.AST]] = []

    def reach(mod: str, name: str, seen=()) -> None:
        m = mods.get(mod)
        if m is None or (mod, name) in seen:
            return
        if name in m.defs:
            if (mod, name) not in reached:
                reached.add((mod, name))
                todo.append((m, m.defs[name]))
        elif name in m.binds:  # re-exported through an import
            target, attr = m.binds[name]
            if attr is not None:
                reach(target, attr, (*seen, (mod, name)))

    def resolve(m: _Module, ref: tuple[str, ...]) -> None:
        head = ref[0]
        if head in m.defs:
            reach(m.name, head)
            return
        if head not in m.binds:
            return
        target, attr = m.binds[head]
        if attr is not None:
            reach(target, attr)
            return
        # a module: follow the chain down submodules to an attribute
        for part in ref[1:]:
            if f"{target}.{part}" in mods:
                target = f"{target}.{part}"
            else:
                reach(target, part)
                return

    # every def of an entry module is the engine's surface; any other
    # reached module contributes the code that runs when it is imported
    for name, m in mods.items():
        todo += [(m, n) for n in m.tree.body if n not in m.defs.values()]
        if name in ENTRY_MODULES:
            for d in m.defs:
                reach(name, d)
    for path in ENTRY_FILES:
        m = _Module(path, path, paths)
        todo.append((m, m.tree))
    for mod, name in exempt:
        reach(mod, name)
    while todo:
        m, node = todo.pop()
        for ref in _references(node):
            resolve(m, ref)
    return sorted(
        f"{name}.{d}"
        for name, m in mods.items()
        for d in m.defs
        if (name, d) not in reached
    )


def test_every_package_function_is_reached_from_an_entry_point():
    unreached = unreached_functions()
    assert not unreached, (
        "top-level functions and classes no CLI command, query or crawl "
        f"path references (wire them in or delete them): {unreached}"
    )


def test_every_exemption_is_needed():
    bare = set(unreached_functions(exempt=()))
    stale = sorted(f"{m}.{n}" for m, n in EXEMPT if f"{m}.{n}" not in bare)
    assert not stale, f"exempt but reached from an entry point: {stale}"
