"""Cache-lifetime census.

Every `.cache()` / `.persist()` in the package pins executor memory until
someone unpersists it. Two lifetimes are allowed:

1. **Query-scoped** — `session.pin(df)`. The pinned frame feeds the lazy
   DataFrame a builder returns, so the builder cannot unpersist it; the
   session records it and `plans/registry.py:queries()` releases it before
   the next build. `pin` is the only place that calls `.cache()` for this.

2. **Loop-scoped** — the function that caches a frame unpersists it
   itself, directly or through a plain alias (`prev = cur` ...
   `prev.unpersist()`): the iterative-loop discipline of
   `iterative.cc_labels`.

The package never calls `catalog.clearCache()`: a query must not drop
cached frames it does not own, such as a user's own caches.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "steam_prices_data_engineering_spark"

CACHE_METHODS = {"cache", "persist"}


def _functions(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node


def _own_nodes(fn):
    """Nodes of `fn`'s body, not of the functions nested in it."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            stack.extend(ast.iter_child_nodes(node))


def _method_calls(nodes, names):
    return [
        n
        for n in nodes
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in names
    ]


def _unpersists_itself(fn, call) -> bool:
    """The cache call's result is bound to a name that this function (or an
    alias of it) unpersists."""
    nodes = list(_own_nodes(fn))
    target = next(
        (
            n.targets[0].id
            for n in nodes
            if isinstance(n, ast.Assign)
            and n.value is call
            and len(n.targets) == 1
            and isinstance(n.targets[0], ast.Name)
        ),
        None,
    )
    if target is None:
        return False
    aliases = {
        (n.value.id, n.targets[0].id)
        for n in nodes
        if isinstance(n, ast.Assign)
        and isinstance(n.value, ast.Name)
        and len(n.targets) == 1
        and isinstance(n.targets[0], ast.Name)
    }
    names, grew = {target}, True
    while grew:
        new = {dst for src, dst in aliases if src in names} - names
        names |= new
        grew = bool(new)
    return any(
        isinstance(c.func.value, ast.Name) and c.func.value.id in names
        for c in _method_calls(nodes, {"unpersist"})
    )


def _offenders() -> tuple[list[str], list[str]]:
    caches, clears = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent)
        tree = ast.parse(path.read_text())
        owner = {
            id(n): fn for fn in _functions(tree) for n in _own_nodes(fn)
        }
        for call in _method_calls(ast.walk(tree), CACHE_METHODS):
            fn = owner.get(id(call))  # None at module level
            if fn is not None and (
                (rel.name == "session.py" and fn.name == "pin")
                or _unpersists_itself(fn, call)
            ):
                continue
            caches.append(f"{rel}:{call.func.end_lineno}")
        clears += [
            f"{rel}:{c.lineno}" for c in _method_calls(ast.walk(tree), {"clearCache"})
        ]
    return caches, clears


def test_every_cache_is_pinned_or_loop_scoped():
    caches, _ = _offenders()
    assert not caches, (
        "cache sites outside session.pin whose function does not unpersist "
        "the cached frame:\n  " + "\n  ".join(caches)
    )


def test_package_never_clears_the_whole_cache():
    _, clears = _offenders()
    assert not clears, "catalog.clearCache() in the package:\n  " + "\n  ".join(clears)
