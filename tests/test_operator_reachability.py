"""Structural guard for one implementation per operator: every top-level
definition in ``pulsar_lunar_spark/operators/`` is reachable, through the
call graph, from code that runs — the query registry, the session, the
sources, streaming and functions layers, the tools, ``bench.py``,
``__spark_entry__.py`` or ``perfbench/``. A definition whose only callers
are tests, the package ``__init__`` re-exports or a string naming it is a
second form that nothing runs; delete it, or move it next to the test
that uses it as a reference.

The pass is static (AST only, no Spark): a reference is a bare name bound
by an import of an operators module or symbol, an attribute of such a
module alias, or, inside an operators module, a bare name of one of its
own top-level definitions."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "pulsar_lunar_spark"
_OPS_PKG = f"{_PKG}.operators"
_OPS_DIR = os.path.join(ROOT, _PKG, "operators")
_ROOTS = (
    os.path.join(_PKG, "queries"),
    os.path.join(_PKG, "session.py"),
    os.path.join(_PKG, "sources"),
    os.path.join(_PKG, "streaming"),
    os.path.join(_PKG, "functions"),
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


def _ops_modules():
    return {
        name[: -len(".py")]
        for name in os.listdir(_OPS_DIR)
        if name.endswith(".py") and name != "__init__.py"
    }


def _reexports(modules):
    """``operators/__init__`` names bound by
    ``from pulsar_lunar_spark.operators.m import x``."""
    out = {}
    for node in ast.walk(_parse(os.path.join(_OPS_DIR, "__init__.py"))):
        if isinstance(node, ast.ImportFrom) and node.module:
            mod = node.module.rpartition(".")[2]
            if node.module == f"{_OPS_PKG}.{mod}" and mod in modules:
                for a in node.names:
                    out[a.asname or a.name] = (mod, a.name)
    return out


def _bindings(tree, modules, reexports):
    """Local name -> {("mod", m)} for an operators module alias, or
    {("sym", (m, name))} for an imported operators definition; a set,
    because function-local imports may bind one name to two modules in
    one file. The engine imports operators by absolute name only; any
    other form leaves its references unresolved, and the guard then
    fails rather than pass."""
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                head, _, mod = a.name.rpartition(".")
                if head == _OPS_PKG and mod in modules and a.asname:
                    bound.setdefault(a.asname, set()).add(("mod", mod))
        elif isinstance(node, ast.ImportFrom):
            src = node.module or ""
            for a in node.names:
                hit = None
                if src == _OPS_PKG:
                    if a.name in modules:
                        hit = ("mod", a.name)
                    elif a.name in reexports:
                        hit = ("sym", reexports[a.name])
                elif src.rpartition(".")[0] == _OPS_PKG:
                    mod = src.rpartition(".")[2]
                    if mod in modules:
                        hit = ("sym", (mod, a.name))
                if hit:
                    bound.setdefault(a.asname or a.name, set()).add(hit)
    return bound


def _refs(node, bound, own):
    """Operators definitions ``node`` references."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out |= {ref for kind, ref in bound.get(sub.id, ()) if kind == "sym"}
            if own is not None and sub.id in own[1]:
                out.add((own[0], sub.id))
        elif isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
            out |= {
                (mod, sub.attr)
                for kind, mod in bound.get(sub.value.id, ())
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


def unreachable_operators():
    """Sorted ``module.name`` of operators definitions nothing runs."""
    modules = _ops_modules()
    reexports = _reexports(modules)
    edges = {}
    seeds = set()
    for mod in sorted(modules):
        path = os.path.join(_OPS_DIR, f"{mod}.py")
        tree = _parse(path)
        bound = _bindings(tree, modules, reexports)
        own = (mod, {n for s in tree.body for n in _top_level_names(s)})
        for stmt in tree.body:
            names = _top_level_names(stmt)
            refs = _refs(stmt, bound, own)
            if names:
                for n in names:
                    edges.setdefault((mod, n), set()).update(refs)
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
    return sorted(f"{m}.{n}" for (m, n) in set(edges) - reached)


def test_every_operator_is_reachable_from_code_that_runs():
    dead = unreachable_operators()
    assert not dead, "operators nothing runs:\n" + "\n".join(dead)
