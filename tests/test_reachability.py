"""Every package module, every top-level function and class in it,
and every option of its functions is reached from the engine.

The entry points are the ``cmon`` CLI (``cli.py``, ``__main__.py``),
the query registry (``queries.py``, driven by ``__spark_entry__.py``)
and the crawl driver (``streaming/rounds.py``, whose ``run_crawl`` the
benchmarks call). Tests are not callers: code only a test reaches is
wired in or deleted, unless it is listed as a test seam with its
reason.

Imports are followed statically with ``ast``, including imports
inside functions, so a module only a test imports shows up as
unreached. Per function, name references are followed from the entry
modules' code (annotations do not count), so a helper only a test
calls shows up too; ``EXEMPT`` lists the few kept anyway.

Per parameter, the calls in the package, perfbench and the
root-level scripts must pass every defaulted parameter of a package
function or method at least two values, an omitted argument counting
as the default. One they always pass the same value, including one
only tests set or nothing sets, is that constant and should be
written as one. ``OPTION_EXEMPT`` names the test seams kept anyway.
"""

from __future__ import annotations

import ast
import os
import re

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
    # the tree reading html.page_text is tested against
    (f"{PKG}.extraction.html", "title_of"),
    (f"{PKG}.extraction.html", "body_text"),
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


# ------------------------------------------------------ per parameter

#: every file whose calls count as setting an option: the package,
#: perfbench and the root-level scripts. Tests are not callers.
CALLER_DIRS = (PKG, "perfbench")

#: test seams: defaulted parameters only tests give a second value,
#: as (module, function or Class.method, parameter) -> why they stay.
OPTION_EXEMPT: dict[tuple[str, str, str], str] = {
    (f"{PKG}.cli", "main", "argv"): "the CLI tests run in-process",
    (f"{PKG}.operators.dedup", "connected_components", "driver_max_edges"): (
        "the engine picks the distributed path by graph size; tests force "
        "it on small graphs"
    ),
    (f"{PKG}.operators.dedup", "connected_components", "max_iters"): (
        "tests reach the non-convergence error"
    ),
    (f"{PKG}.operators.dedup", "lsh_candidate_pairs", "max_bucket_size"): (
        "a test compares capped and uncapped candidates"
    ),
    (f"{PKG}.sources.dao", "RetryingDAO.__init__", "_sleep"): "a fake clock",
    (f"{PKG}.sources.gateway", "CDXGateway.__init__", "_sleep"): "a fake clock",
    (f"{PKG}.sources.gateway", "cdx_records", "client_factory"): (
        "a fake transport: there is no network"
    ),
    (f"{PKG}.functions.psl", "registered_domain_py", "rules"): (
        "the Python oracle is checked against custom rule files"
    ),
    (f"{PKG}.extraction.extractor", "ConfigExtractor.__init__", "must_not_exist"): (
        "the reference's F9 filter, part of the plugin API the CLI's "
        "extractor modules use"
    ),
}


def _caller_files() -> list[str]:
    files = [
        os.path.join(REPO, f)
        for f in os.listdir(REPO)
        if f.endswith(".py")
    ]
    for d in CALLER_DIRS:
        for dirpath, _, names in os.walk(os.path.join(REPO, d)):
            files += [os.path.join(dirpath, f) for f in names if f.endswith(".py")]
    return files


def _defaulted_params():
    """(module, qualname, callee, parameter, position, default) for
    every defaulted parameter of a package function or method.

    ``callee`` is the name a call uses (the class for ``__init__``);
    ``position`` counts positional arguments after ``self``/``cls`` and
    is None for keyword-only parameters; ``default`` is the default's
    source text."""
    out = []
    for mod, path in _package_modules().items():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        defs = [(None, n) for n in tree.body]
        for c in tree.body:
            if isinstance(c, ast.ClassDef):
                defs += [(c.name, n) for n in c.body]
        for cls, fn in defs:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in fn.decorator_list
            )
            bound = 1 if cls is not None and not static else 0
            qual = f"{cls}.{fn.name}" if cls else fn.name
            callee = cls if fn.name == "__init__" else fn.name
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, d in enumerate(a.defaults, first):
                default = ast.unparse(d)
                out.append((mod, qual, callee, pos[i].arg, i - bound, default))
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    out.append((mod, qual, callee, arg.arg, None, ast.unparse(d)))
    return out


def _bound_names(fn: ast.AST) -> set[str]:
    """Names a function or lambda binds: its parameters and every name
    it assigns, nested scopes included. Imports do not count; an
    imported constant is one value."""
    names = {n.arg for n in ast.walk(fn) if isinstance(n, ast.arg)}
    return names | {
        n.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    }


def _engine_calls() -> dict[str, list[tuple[ast.Call, frozenset[str]]]]:
    """Bare callee name -> every call in the caller files, each with
    the names bound by the functions around it."""
    calls: dict[str, list[tuple[ast.Call, frozenset[str]]]] = {}

    def visit(node: ast.AST, bound: frozenset[str]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            bound = bound | _bound_names(node)
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            calls.setdefault(name, []).append((node, bound))
        for child in ast.iter_child_nodes(node):
            visit(child, bound)

    for path in _caller_files():
        with open(path, encoding="utf-8") as fh:
            visit(ast.parse(fh.read(), filename=path), frozenset())
    return calls


def single_valued_options(exempt=OPTION_EXEMPT) -> dict[str, str]:
    """Defaulted parameters that every call in the caller files passes
    the same value, each with that value.

    A value is the argument's source text; an omitted argument is the
    default's, so ``f(x=0.6)`` and ``f()`` with ``x=0.6`` agree, and an
    option no call sets shows one value, its default. An argument that
    uses a name bound in the calling function (a parameter or a local)
    varies, and so does any parameter of a call with ``*args`` or
    ``**kwargs``. Calls match by the callee's bare name, whatever its
    module or receiver, so a same-named function elsewhere adds its
    values, which can only hide a single-valued option."""
    calls = _engine_calls()
    out = {}
    for mod, qual, callee, arg, i, default in _defaulted_params():
        if (mod, qual, arg) in exempt:
            continue
        values: set[str] = set()
        for call, bound in calls.get(callee, ()):
            kws = {k.arg: k.value for k in call.keywords}
            if None in kws or any(isinstance(a, ast.Starred) for a in call.args):
                break
            expr = kws.get(arg)
            if expr is None and i is not None and len(call.args) > i:
                expr = call.args[i]
            if expr is None:
                values.add(default)
            elif any(
                isinstance(n, ast.Name) and n.id in bound for n in ast.walk(expr)
            ):
                break
            else:
                values.add(ast.unparse(expr))
        else:
            if len(values) <= 1:
                out[f"{mod}.{qual}({arg}=)"] = values.pop() if values else default
    return out


def test_every_option_takes_two_values():
    single = single_valued_options()
    assert not single, (
        "defaulted parameters every engine call passes one value (make "
        f"them the constant they always are): {single}"
    )


def test_every_option_exemption_is_needed():
    assert all(OPTION_EXEMPT.values()), "every test seam states its reason"
    bare = single_valued_options(exempt=())
    stale = sorted(
        f"{m}.{q}({a}=)" for m, q, a in OPTION_EXEMPT if f"{m}.{q}({a}=)" not in bare
    )
    assert not stale, f"option exempt but given two values by callers: {stale}"


# ------------------------------------------------------ one URL parser

#: Spark's ``java.net.URI`` URL functions. Every URL rule reads the URL
#: as ``urlsplit`` does, through ``functions/urls.py``; a rule on these
#: would be a second parser, which rejects and reads URLs differently.
URI_FUNCTIONS = ("parse_url", "try_parse_url")


def uri_function_uses() -> list[str]:
    """``file:line`` of every call of a ``URI_FUNCTIONS`` function in
    the package, and of every string other than a docstring that names
    one by itself or calls one in SQL."""
    sql_call = re.compile(r"parse_url\s*\(", re.IGNORECASE)
    uses = []
    for path in sorted(_package_modules().values()):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(
                n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
            )
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        rel = os.path.relpath(path, REPO)
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in URI_FUNCTIONS:
                    uses.append(f"{rel}:{n.lineno} {name}()")
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docstrings
                and (
                    n.value.strip().lower() in URI_FUNCTIONS
                    or sql_call.search(n.value)
                )
            ):
                uses.append(f"{rel}:{n.lineno} {n.value[:40]!r}")
    return uses


def test_no_uri_function_in_the_package():
    uses = uri_function_uses()
    assert not uses, (
        "URL rules read the URL through functions/urls.py, as urlsplit "
        f"does, not through java.net.URI: {uses}"
    )
