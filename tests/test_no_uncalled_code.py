"""Every top-level function and class in the library has a caller.

A name counts as referenced when it occurs as a word somewhere other
than its own ``def``/``class`` line, in any ``.py`` file of the repo
(library, tests, tools, perfbench, the ``__spark_entry__`` adapter).
The scan is purely lexical, so a mention in a docstring or a string key
also counts; it catches code that nothing names at all.
"""

import ast
import collections
import pathlib
import re

import pytest

pytestmark = pytest.mark.fastverify

REPO = pathlib.Path(__file__).resolve().parents[1]
LIB = REPO / "novi_pdq_etl_project_prod_spark"
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files():
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if not any(part.startswith(".") for part in rel.parts):
            yield path


def test_every_library_definition_has_a_caller():
    words = collections.Counter()
    for path in _py_files():
        words.update(_WORD.findall(path.read_text(encoding="utf-8")))
    defined = collections.Counter()
    sites = {}
    for path in sorted(LIB.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defined[node.name] += 1
                sites[node.name] = f"{path.relative_to(REPO)}:{node.lineno}"
    uncalled = sorted(
        sites[name] + " " + name
        for name, n_defs in defined.items()
        if words[name] <= n_defs
    )
    assert not uncalled, f"library definitions nothing refers to: {uncalled}"
