"""Dead-code gate: every top-level def and class in the package must be
referenced from some Python file in the repo — the package, scripts,
perfbench and tests all count — outside its own body.

Matching is by identifier (names, attribute names, imported names), so
the gate can miss a dead def that shares a name with a live one, but
it never needs a list of exceptions kept by hand."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "geographiclib_go_spark"


def _python_files():
    for path in sorted(ROOT.rglob("*.py")):
        parts = path.relative_to(ROOT).parts
        if not any(p.startswith(".") or p == "__pycache__" for p in parts):
            yield path


def _identifiers(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def test_every_package_def_is_referenced():
    defs, used = [], set()
    for path in _python_files():
        rel = path.relative_to(ROOT)
        for stmt in ast.parse(path.read_text(), str(rel)).body:
            is_def = isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                       ast.ClassDef))
            if is_def and rel.parts[0] == PKG:
                defs.append(f"{rel}:{stmt.lineno} {stmt.name}")
            # a def that only refers to itself (recursion) is not used
            used.update(n for n in _identifiers(stmt)
                        if not (is_def and n == stmt.name))
    assert len(defs) > 500  # the scan found the package
    dead = [d for d in defs if d.rsplit(" ", 1)[1] not in used]
    assert not dead, "unreferenced defs (delete them or use them):\n" + \
        "\n".join(dead)
