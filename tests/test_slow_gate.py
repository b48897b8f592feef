"""The slow gate in conftest.py matches tests by (file basename, test
function name).  An entry that names no test fails silently: the gate
stops applying, and a renamed slow test runs in the default suite."""

import ast
import os

from conftest import _SLOW_TESTS

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _test_functions(basename: str) -> set[str]:
    """Module-level test functions and test methods of module-level
    classes, the two places pytest collects a test from."""
    path = os.path.join(_TESTS_DIR, basename)
    if not os.path.isfile(path):
        return set()
    with open(path, encoding="utf-8") as f:
        body = ast.parse(f.read()).body
    defs = [n for n in body if isinstance(n, ast.FunctionDef)]
    for cls in (n for n in body if isinstance(n, ast.ClassDef)):
        defs += [n for n in cls.body if isinstance(n, ast.FunctionDef)]
    return {n.name for n in defs if n.name.startswith("test")}


def test_slow_gate_entries_name_existing_tests():
    by_file: dict[str, set[str]] = {}
    stale = sorted(
        (f, name)
        for f, name in _SLOW_TESTS
        if name not in by_file.setdefault(f, _test_functions(f))
    )
    assert not stale, f"_SLOW_TESTS entries naming no test: {stale}"
