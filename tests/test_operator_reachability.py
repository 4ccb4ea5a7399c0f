"""Structural guard for one implementation per operator: every top-level
definition in the guarded packages — ``operators/``, ``streaming/``,
``sources/`` and ``functions/`` under ``pulsar_lunar_spark/`` — is
reachable, through the call graph, from code that runs: the query
registry, the session, the tools, ``bench.py``, ``__spark_entry__.py`` or
``perfbench/``. A definition whose only callers are tests, a package
``__init__`` re-export or a string naming it is a second form that nothing
runs; delete it, or move it next to the test that uses it as a reference.

The guarded packages reach each other only through call edges from a
reached definition, never as roots. A name a guarded package's
``__init__`` re-exports resolves to its definition when a caller imports
it from the package; the re-export itself is not a caller.

The pass is static (AST only, no Spark): a reference is a bare name bound
by an import of a guarded module or symbol, an attribute of such a module
alias, or, inside a guarded module, a bare name of one of its own
top-level definitions."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "pulsar_lunar_spark"
_GUARDED = ("operators", "streaming", "sources", "functions")
_ROOTS = (
    os.path.join(_PKG, "queries"),
    os.path.join(_PKG, "session.py"),
    "tools",
    "bench.py",
    "__spark_entry__.py",
    "perfbench",
)


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for root, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(root, name)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _modules():
    """(package, module) of every guarded module."""
    return {
        (pkg, name[: -len(".py")])
        for pkg in _GUARDED
        for name in os.listdir(os.path.join(ROOT, _PKG, pkg))
        if name.endswith(".py") and name != "__init__.py"
    }


def _module_key(dotted, modules):
    """(package, module) for ``pulsar_lunar_spark.<package>.<module>``."""
    parts = dotted.split(".")
    if len(parts) == 3 and parts[0] == _PKG and (parts[1], parts[2]) in modules:
        return (parts[1], parts[2])
    return None


def _reexports(modules):
    """(package, name) -> (package, module, name) for the names a guarded
    package's ``__init__`` binds by
    ``from pulsar_lunar_spark.<package>.<module> import name``."""
    out = {}
    for pkg in _GUARDED:
        tree = _parse(os.path.join(ROOT, _PKG, pkg, "__init__.py"))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                key = _module_key(node.module, modules)
                if key is not None and key[0] == pkg:
                    for a in node.names:
                        out[(pkg, a.asname or a.name)] = (*key, a.name)
    return out


def _bindings(tree, modules, reexports):
    """Local name -> {("mod", (pkg, m))} for a guarded module alias, or
    {("sym", (pkg, m, name))} for an imported guarded definition; a set,
    because function-local imports may bind one name to two modules in
    one file. The engine imports guarded code by absolute name only; any
    other form leaves its references unresolved, and the guard then fails
    rather than pass."""
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                key = _module_key(a.name, modules)
                if key is not None and a.asname:
                    bound.setdefault(a.asname, set()).add(("mod", key))
        elif isinstance(node, ast.ImportFrom):
            src = node.module or ""
            head, _, pkg = src.rpartition(".")
            for a in node.names:
                hit = None
                if head == _PKG and pkg in _GUARDED:
                    if (pkg, a.name) in modules:
                        hit = ("mod", (pkg, a.name))
                    elif (pkg, a.name) in reexports:
                        hit = ("sym", reexports[(pkg, a.name)])
                else:
                    key = _module_key(src, modules)
                    if key is not None:
                        hit = ("sym", (*key, a.name))
                if hit:
                    bound.setdefault(a.asname or a.name, set()).add(hit)
    return bound


def _refs(node, bound, own):
    """Guarded definitions ``node`` references."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out |= {ref for kind, ref in bound.get(sub.id, ()) if kind == "sym"}
            if own is not None and sub.id in own[1]:
                out.add((*own[0], sub.id))
        elif isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
            out |= {
                (*key, sub.attr)
                for kind, key in bound.get(sub.value.id, ())
                if kind == "mod"
            }
    return out


def _top_level_names(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = []
    for t in targets:
        for sub in ast.walk(t):
            if isinstance(sub, ast.Name):
                names.append(sub.id)
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def unreachable_definitions():
    """Sorted ``package.module.name`` of guarded definitions nothing runs."""
    modules = _modules()
    reexports = _reexports(modules)
    edges = {}
    seeds = set()
    for pkg, mod in sorted(modules):
        tree = _parse(os.path.join(ROOT, _PKG, pkg, f"{mod}.py"))
        bound = _bindings(tree, modules, reexports)
        own = ((pkg, mod), {n for s in tree.body for n in _top_level_names(s)})
        for stmt in tree.body:
            names = _top_level_names(stmt)
            refs = _refs(stmt, bound, own)
            if names:
                for n in names:
                    edges.setdefault((pkg, mod, n), set()).update(refs)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # Module-level code runs at import.
                seeds |= refs
    for rel in _ROOTS:
        for path in _py_files(rel):
            tree = _parse(path)
            seeds |= _refs(tree, _bindings(tree, modules, reexports), None)
    reached = set()
    todo = [s for s in seeds if s in edges]
    while todo:
        cur = todo.pop()
        if cur in reached:
            continue
        reached.add(cur)
        todo.extend(r for r in edges[cur] if r in edges and r not in reached)
    return sorted(".".join(d) for d in set(edges) - reached)


def test_every_operator_is_reachable_from_code_that_runs():
    dead = unreachable_definitions()
    assert not dead, "definitions nothing runs:\n" + "\n".join(dead)
