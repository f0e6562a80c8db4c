"""No catch-all exception handlers in the package.

A bare `except:` or `except Exception` / `except BaseException` around a
fast path silently swaps it for a slower twin or different semantics
when anything at all goes wrong. Handlers must name the failure they
guard. The allow-list holds the two boundaries that report what they
catch and keep going: `cmd_sql` (prints each skipped directory) and
`ship_package` (logs why shipping the package failed).
"""
from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "nomba_data_pipeline_spark"
ALLOWED_FUNCTIONS = {"cmd_sql", "ship_package"}
_BROAD = {"Exception", "BaseException"}


def _is_broad(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(isinstance(t, ast.Name) and t.id in _BROAD for t in types)


def _broad_handlers(tree: ast.AST):
    """(enclosing function name, line) of every broad handler."""
    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            name = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if isinstance(child, ast.ExceptHandler) and _is_broad(child):
                yield func, child.lineno
            yield from walk(child, name)

    yield from walk(tree, None)


def test_no_broad_except_outside_allow_list():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for func, line in _broad_handlers(tree):
            if func not in ALLOWED_FUNCTIONS:
                found.append(f"{path.relative_to(PACKAGE.parent)}:{line} in {func}")
    assert not found, "broad exception handlers:\n" + "\n".join(found)


def test_guard_sees_every_broad_form():
    src = (
        "def f():\n"
        "    try: pass\n"
        "    except: pass\n"
        "    try: pass\n"
        "    except (OSError, Exception): pass\n"
        "    try: pass\n"
        "    except BaseException as e: raise\n"
        "    try: pass\n"
        "    except OSError: pass\n"
    )
    assert [line for _, line in _broad_handlers(ast.parse(src))] == [3, 5, 7]
