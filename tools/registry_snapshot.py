"""Structural snapshot of the query registry: one digest per query.

A query's digest covers
- the ``ast.dump`` of its decorated function;
- recursively, the AST of every ``ubw_spark.queries`` function it reaches
  through a global name or a function-local ``from ... import``;
- ``module.qualname`` of every other callable it binds;
- ``repr`` of every module-level constant it reads;
- its oracle SQL and its tags.

Module paths of query-layer helpers are NOT part of the digest, so a
query moved verbatim to another module, or a helper shared by several
modules collapsed into one copy, keeps its digest; any edit to a body,
an oracle, a tag, a constant or a bound engine function changes it.
Compare two snapshots with ``diff``; ``query_parts`` returns what one
digest covers, for reading a difference.  No Spark session is started.

    python tools/registry_snapshot.py > snap.txt
"""

from __future__ import annotations

import ast
import dis
import hashlib
import importlib
import inspect
import os
import sys
import textwrap
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_QUERY_PKG = "ubw_spark.queries"
_DATA = (str, bytes, int, float, complex, bool, type(None), tuple, list, dict)


def _global_loads(code: types.CodeType) -> set[str]:
    names = {
        ins.argval
        for ins in dis.get_instructions(code)
        if ins.opname in ("LOAD_GLOBAL", "LOAD_NAME")
    }
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _global_loads(const)
    return names


def _local_imports(tree: ast.AST) -> list[tuple[str, object]]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            mod = importlib.import_module(node.module)
            out += [(a.asname or a.name, getattr(mod, a.name)) for a in node.names]
    return out


def _describe(name: str, value: object, parts: list, seen: set) -> None:
    if isinstance(value, types.ModuleType):
        parts.append(("module", name, value.__name__))
    elif isinstance(value, types.FunctionType) and value.__module__.startswith(
        _QUERY_PKG
    ):
        _walk(value, parts, seen)
    elif callable(value):
        mod = getattr(value, "__module__", None) or type(value).__module__
        qual = getattr(value, "__qualname__", None) or type(value).__qualname__
        parts.append(("callable", name, f"{mod}.{qual}"))
    elif isinstance(value, (set, frozenset)):
        parts.append(("const", name, repr(sorted(value, key=repr))))
    elif isinstance(value, _DATA):
        parts.append(("const", name, repr(value)))
    else:  # a stateful object (a memo, a lock): its repr holds an address
        parts.append(("object", name, type(value).__qualname__))


def _walk(fn: types.FunctionType, parts: list, seen: set) -> None:
    if fn in seen:
        parts.append(("seen", fn.__qualname__))
        return
    seen.add(fn)
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    parts.append(("ast", fn.__qualname__, ast.dump(tree)))
    g = fn.__globals__
    for name in sorted(_global_loads(fn.__code__)):
        if name in g:
            _describe(name, g[name], parts, seen)
    for name, value in _local_imports(tree):
        _describe(name, value, parts, seen)


def query_parts(q) -> list:
    parts: list = []
    _walk(q.fn, parts, set())
    parts.append(("oracle", q.oracle))
    parts.append(("tags", tuple(q.tags)))
    return parts


def main() -> None:
    from ubw_spark.queries import REGISTRY

    total = hashlib.sha256()
    for name in sorted(REGISTRY):
        digest = hashlib.sha256(
            repr(query_parts(REGISTRY[name])).encode()
        ).hexdigest()[:16]
        total.update(f"{name} {digest}\n".encode())
        print(name, digest)
    print(f"TOTAL {len(REGISTRY)} {total.hexdigest()[:16]}")


if __name__ == "__main__":
    main()
