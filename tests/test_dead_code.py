"""Every top-level function, class and constant of the package is used by
some non-test file: code that only tests call, or nothing calls, is
deleted (git keeps it).  A static scan of the source; no Spark needed."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "youtubeanalyzerproject_big_data__spark"

# Kept without a caller, each for its reason.
ALLOWED = {
    (f"{PACKAGE}.sources.xml_ingest", "read_users_xml"): "the reference's users loader "
    "(YoutubeDataset_loader_final.py:55-72); the engine ingests both collections",
    (f"{PACKAGE}.schema", "USERS_SCHEMA"): "the users collection's data model, which "
    "read_users_xml produces (YoutubeDataset_loader_final.py:55-72)",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _non_test_sources() -> dict[str, ast.Module]:
    paths = (
        p for p in sorted(ROOT.rglob("*.py"))
        if not any(part == "tests" or part.startswith(".") for part in p.relative_to(ROOT).parts)
    )
    return {_module_name(p): ast.parse(p.read_text(), str(p)) for p in paths}


def _dotted(node: ast.Attribute) -> list[str] | None:
    names = []
    while isinstance(node, ast.Attribute):
        names.append(node.attr)
        node = node.value
    return [node.id, *reversed(names)] if isinstance(node, ast.Name) else None


def _references(sources: dict[str, ast.Module]) -> set[tuple[str, str]]:
    """(module, name) pairs that some source loads: a name read in its own
    module, imported from its module, or reached as ``module.name``
    through an imported module.  A name imported into one module and
    imported from there in turn counts for the module that defines it."""
    refs: set[tuple[str, str]] = set()
    reexported: dict[tuple[str, str], tuple[str, str]] = {}
    for mod, tree in sources.items():
        modules: dict[str, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    bound = a.name if a.asname else a.name.split(".")[0]
                    modules[a.asname or bound] = bound
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    if f"{node.module}.{a.name}" in sources:
                        modules[a.asname or a.name] = f"{node.module}.{a.name}"
                    else:
                        refs.add((node.module, a.name))
                        reexported[(mod, a.asname or a.name)] = (node.module, a.name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                refs.add((mod, node.id))
            elif isinstance(node, ast.Attribute) and (path := _dotted(node)) and path[0] in modules:
                target, rest = modules[path[0]], path[1:]
                while rest and f"{target}.{rest[0]}" in sources:
                    target, rest = f"{target}.{rest[0]}", rest[1:]
                if rest:
                    refs.add((target, rest[0]))
    pending = list(refs)
    while pending:
        origin = reexported.get(pending.pop())
        if origin is not None and origin not in refs:
            refs.add(origin)
            pending.append(origin)
    return refs


def _declared_query(node: ast.AST) -> bool:
    """A ``@query(...)`` body: the contract registry calls it."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in getattr(node, "decorator_list", [])
    )


def _top_level_symbols(sources: dict[str, ast.Module]):
    for mod, tree in sources.items():
        if mod != PACKAGE and not mod.startswith(f"{PACKAGE}."):
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and not _declared_query(node):
                yield mod, node.name, node.lineno
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name) and not t.id.startswith("__"):
                        yield mod, t.id, node.lineno


def test_every_package_symbol_has_a_non_test_caller():
    sources = _non_test_sources()
    refs = _references(sources)
    symbols = {(mod, name): line for mod, name, line in _top_level_symbols(sources)}
    unused = [f"{mod}:{line} {name}" for (mod, name), line in symbols.items() if (mod, name) not in refs]
    expected = [f"{mod}:{symbols.get((mod, name))} {name}" for mod, name in ALLOWED]
    assert sorted(unused) == sorted(expected), "package symbols no non-test file uses:\n" + "\n".join(unused)


# Defaulted parameters no non-test call sets, each kept for its reason.
ALLOWED_PARAMETERS = {
    (f"{PACKAGE}.operators.dedup", "_shingles", "use_arrow"): "False is the Catalyst "
    "reference the Arrow shingler is tested against",
    (f"{PACKAGE}.operators.dedup", "duplicated_span_removal", "use_arrow"): "False is the "
    "Catalyst reference the Arrow span kernel is tested against",
    (f"{PACKAGE}.operators.clustering", "kmeans_lloyd", "use_arrow"): "False is the "
    "zip_with/aggregate reference the Arrow assignment kernel is tested against",
    (f"{PACKAGE}.operators.dedup", "minhash_lsh_pairs", "max_bucket"): "None is the uncapped "
    "reference the bucket cap is tested against",
    (f"{PACKAGE}.operators.graph", "connected_components_star", "small_graph_threshold"): "0 "
    "forces the distributed star rounds that the driver-side fast path is tested against",
    (f"{PACKAGE}.operators.graph", "connected_components_star", "_round_counter"): "the tests' "
    "probe of the O(log n) round count",
    (f"{PACKAGE}.session", "get_spark", "master"): "deployment setting: the cluster master URL",
    (f"{PACKAGE}.session", "get_spark", "state_store"): "deployment setting: the streaming "
    "state-store provider",
}


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, positional index or None) of each parameter with a default;
    the index counts from the first argument a call passes (after self)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    for i, arg in enumerate(pos[len(pos) - len(a.defaults) :], len(pos) - len(a.defaults)):
        yield arg.arg, i - skip
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None


def _calls_by_name(sources: dict[str, ast.Module]) -> dict[str, list[ast.Call]]:
    """Every call, keyed by the called name (``f(...)`` or ``x.f(...)``),
    with ``import f as g`` aliases resolved to ``f``.  Matching by name
    over-approximates: a call of any function named ``f`` counts."""
    aliases = {
        a.asname: a.name
        for tree in sources.values()
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.asname
    }
    calls: dict[str, list[ast.Call]] = {}
    for tree in sources.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, (ast.Name, ast.Attribute)):
                name = node.func.id if isinstance(node.func, ast.Name) else node.func.attr
                calls.setdefault(aliases.get(name, name), []).append(node)
    return calls


def _sets(call: ast.Call, param: str, index: int | None) -> bool:
    if any(k.arg in (param, None) for k in call.keywords) or any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return index is not None and len(call.args) > index


def test_every_defaulted_parameter_has_a_non_test_caller():
    """A parameter with a default that no non-test call passes, by keyword
    or by position, is an option nobody uses: its default is the code, so
    it becomes a constant (a test that needs another value monkeypatches
    the module constant)."""
    sources = _non_test_sources()
    calls = _calls_by_name(sources)
    unset = {}
    for mod, tree in sources.items():
        if mod != PACKAGE and not mod.startswith(f"{PACKAGE}."):
            continue
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for param, index in _defaulted(fn):
                    if not any(_sets(c, param, index) for c in calls.get(fn.name, [])):
                        unset[(mod, fn.name, param)] = fn.lineno
    where = "\n".join(f"{mod}:{line} {fn}({param}=)" for (mod, fn, param), line in unset.items())
    assert sorted(unset) == sorted(ALLOWED_PARAMETERS), "defaulted parameters no non-test call sets:\n" + where


def _enclosing_functions(tree: ast.Module) -> dict:
    """node -> name of its innermost enclosing function (walk is outer-first)."""
    scope = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope.update((node, fn.name) for node in ast.walk(fn))
    return scope


def test_local_checkpoint_only_inside_session_pin():
    """``session.pin`` is the package's one materialization step (pin the
    bounded result, then release what it was built from, or hand it back
    live under ``session.LIVE_PLANS``): no other package code calls
    ``.localCheckpoint(``."""
    sites = []
    for mod, tree in _non_test_sources().items():
        if mod != PACKAGE and not mod.startswith(f"{PACKAGE}."):
            continue
        scope = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "localCheckpoint":
                sites.append((mod, scope.get(node, "<module>"), node.lineno))
    where = "\n".join(f"{mod}:{line} in {fn}" for mod, fn, line in sites)
    assert [(mod, fn) for mod, fn, _ in sites] == [(f"{PACKAGE}.session", "pin")], where


def test_graph_layouts_come_from_data_sized():
    """Every edge layout in ``operators/graph.py`` comes from
    ``session.data_sized``, the one layout rule: the module makes no
    ``.repartition(`` call and reads no ``spark.sql.shuffle.partitions``."""
    tree = ast.parse((ROOT / PACKAGE / "operators" / "graph.py").read_text())
    scope = _enclosing_functions(tree)

    def second_rule(node: ast.AST) -> str | None:
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "repartition":
            return ".repartition("
        if isinstance(node, ast.Constant) and node.value == "spark.sql.shuffle.partitions":
            return "spark.sql.shuffle.partitions"
        return None

    sites = sorted((n.lineno, scope.get(n, "<module>"), what) for n in ast.walk(tree) if (what := second_rule(n)))
    where = "\n".join(f"{fn}:{line} {what}" for line, fn, what in sites)
    assert sites == [], "graph layouts outside session.data_sized:\n" + where
