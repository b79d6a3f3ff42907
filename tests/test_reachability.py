"""Reachability guard: every top-level definition in the package is run
by something the system ships, or is named in KEPT with a reason.

The scan parses every package module and walks from the roots (the
CLI, the driver query surface, bench.py, the benchmark and the tools)
through the definitions they use, transitively. A use is a name that
resolves to a package definition (directly, or through the module's
`from ... import`), an attribute with the definition's name, or a
string constant equal to it (getattr, monkeypatch and the benchmark's
attribute wrappers name things by string). An attribute of a name
bound by an import of a module outside the package (`pq.read_table`,
`np.`, `F.`, `os.`) belongs to that module and is not a use. An
import alone is not a use. Module-level statements other than
definitions run on import and count as roots.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "llogtail_spark"

KEPT = {
    # public readers: the documented way to read a run's outputs
    "pipeline.read_sink", "corpus_pipeline.read_packed",
    "manifest.committed_parts",
    # the live tail: llogtail's poller loop, started by the application
    # that embeds the package, not by the CLI
    "pipeline.follow",
    # test references and fixtures
    "operators.aggregate.sink_aggregates", "operators.aggregate.salted_sink_aggregates",
    "operators.dedup.embedding_near_dup_pairs", "operators.multimodal.synth_media",
    "operators.multimodal.MEDIA_SCHEMA", "sources.reader.write_bucketed",
}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, os.path.join(ROOT, PKG))[:-3].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith("__init__") else rel


def _imports(tree: ast.Module) -> tuple[dict[str, set[tuple[str, str]]], set[str]]:
    """(local name -> {(package module, name)} for the `from ... import`s
    of package modules anywhere in the file (function-local imports
    may bind one name to different modules), the names bound only by
    imports of modules outside the package)."""
    out: dict[str, set[tuple[str, str]]] = {}
    foreign: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            foreign |= {a.asname or a.name.split(".")[0] for a in node.names
                        if a.name.split(".")[0] != PKG}
        elif isinstance(node, ast.ImportFrom):
            if not node.module or node.module.split(".")[0] != PKG:
                foreign |= {a.asname or a.name for a in node.names}
                continue
            src = node.module[len(PKG) + 1:]
            for a in node.names:
                out.setdefault(a.asname or a.name, set()).add((src, a.name))
    return out, foreign - set(out)


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def scan(extra_roots=frozenset()) -> tuple[set[str], set[str]]:
    """(every top-level package definition, the ones reachable from the
    roots and `extra_roots`), each as 'module.name' relative to the
    package."""
    modules, defs = {}, {}
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                mod = _module_name(path)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                modules[mod] = (tree, _imports(tree))
                for stmt in tree.body:
                    for name in _defined(stmt):
                        defs.setdefault(f"{mod}.{name}", []).append(stmt)
    by_name: dict[str, set[str]] = {}
    for q in defs:
        by_name.setdefault(q.rsplit(".", 1)[1], set()).add(q)

    def resolve(mod: str, name: str, depth: int = 0) -> set[str]:
        if f"{mod}.{name}" in defs:
            return {f"{mod}.{name}"}
        if mod not in modules or depth > 8:
            return set()
        # a re-export: follow the module's own import of the name
        return set().union(*(resolve(m, n, depth + 1)
                             for m, n in modules[mod][1][0].get(name, ())))

    def uses(node: ast.AST, mod: str | None, imports: tuple) -> set[str]:
        pkg_imports, foreign = imports
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if mod is not None and f"{mod}.{n.id}" in defs:
                    out.add(f"{mod}.{n.id}")
                for m, name in pkg_imports.get(n.id, ()):
                    out |= resolve(m, name)
            elif isinstance(n, ast.Attribute):
                if not (isinstance(n.value, ast.Name) and n.value.id in foreign):
                    out |= by_name.get(n.attr, set())
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                out |= by_name.get(n.value, set())
        return out

    todo = set(extra_roots)
    roots = [os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py")]
    for d in ("benchmark", "tools"):
        roots += sorted(os.path.join(ROOT, d, f) for f in os.listdir(os.path.join(ROOT, d))
                        if f.endswith(".py"))
    for path in roots:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        todo |= uses(tree, None, _imports(tree))
    for mod, (tree, imports) in modules.items():
        for stmt in tree.body:
            if mod == "cli" or not _defined(stmt):
                todo |= uses(stmt, mod, imports)
    seen: set[str] = set()
    while todo:
        q = todo.pop()
        if q in seen:
            continue
        seen.add(q)
        mod = q.rsplit(".", 1)[0]
        for stmt in defs[q]:
            todo |= uses(stmt, mod, modules[mod][1]) - seen
    return set(defs), seen


def test_every_package_definition_is_reachable():
    defs, reached = scan()
    assert KEPT <= defs, f"KEPT names no definition: {sorted(KEPT - defs)}"
    assert not KEPT & reached, f"KEPT but reachable anyway: {sorted(KEPT & reached)}"
    _, reached = scan(KEPT)
    dead = sorted(q for q in defs - reached if not q.rsplit(".", 1)[1].startswith("__"))
    assert not dead, "unreachable definitions (delete them, or add to KEPT with a reason):\n" \
        + "\n".join(dead)
