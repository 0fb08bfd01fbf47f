"""Guard against copied helpers: no two functions in the engine package
may share a body and argument names.

A helper copied into a second module drifts on its own the first time
one copy is edited; the copy belongs in one place and gets imported.
Pure ``ast`` — no Spark — so the check costs well under a second.
Docstrings are removed before comparing, and bodies shorter than
``MIN_BODY_LINES`` source lines are ignored (one-line delegations and
trivial accessors repeat by nature).
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "automatic_etl_spark",
)
MIN_BODY_LINES = 3


def _signature(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> str | None:
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]
    if not body or body[-1].end_lineno - body[0].lineno + 1 < MIN_BODY_LINES:
        return None
    a = fn.args
    names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
    names += [x.arg for x in (a.vararg, a.kwarg) if x is not None]
    return repr(names) + "".join(ast.dump(s) for s in body)


def _functions() -> dict[str, list[str]]:
    seen: dict[str, list[str]] = defaultdict(list)
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    sig = _signature(node)
                    if sig is not None:
                        rel = os.path.relpath(path, PKG)
                        seen[sig].append(f"{rel}:{node.lineno} {node.name}")
    return seen


def test_no_two_functions_share_a_body():
    copies = [sorted(sites) for sites in _functions().values() if len(sites) > 1]
    assert not copies, (
        "identical function bodies — keep one and import it: "
        + "; ".join(", ".join(c) for c in sorted(copies))
    )
