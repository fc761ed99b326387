"""Source-tree hygiene checks that need no Spark session."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ("kapacitor_spark", "perfbench", "tests")


def _redefinitions(body, prefix):
    """Yield ``prefix + name`` for every def/class bound twice in one body.
    Property setters/deleters and typing overloads legitimately reuse
    the name and are skipped."""
    seen = set()
    for node in body:
        if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            continue
        if any(ast.unparse(d).endswith((".setter", ".deleter", "overload"))
               for d in node.decorator_list):
            continue
        if node.name in seen:
            yield f"{prefix}{node.name} (line {node.lineno})"
        seen.add(node.name)
        if isinstance(node, ast.ClassDef):
            yield from _redefinitions(node.body, f"{prefix}{node.name}.")


def test_no_shadowed_definitions():
    """A second def/class of the same name in one module or class body
    silently replaces the first, leaving dead code that reads as live."""
    found = []
    for top in SCANNED:
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as f:
                    tree = ast.parse(f.read(), path)
                rel = os.path.relpath(path, ROOT)
                found += list(_redefinitions(tree.body, f"{rel}:"))
    assert not found, f"shadowed definitions: {found}"


def test_one_keyed_state_kernel_in_streaming():
    """Every stateful stream operator runs on ``_keyed_scan``: it is the
    one ``applyInPandasWithState`` call in the streaming package, so no
    operator keeps its own state schema, encoding or timer rule."""
    pkg = os.path.join(ROOT, "kapacitor_spark", "streaming")
    calls = 0
    for fn in sorted(os.listdir(pkg)):
        if fn.endswith(".py"):
            with open(os.path.join(pkg, fn), encoding="utf-8") as f:
                calls += f.read().count("applyInPandasWithState(")
    assert calls == 1
