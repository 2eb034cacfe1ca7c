"""No dead top-level definitions in the package.

A top-level function or class that nothing names — not the package,
the tests, the tools, the benchmark, ``bench.py`` or
``__spark_entry__.py`` — is code nobody runs.  The scan is textual
(a whole-word grep over that file set), so a name that only survives in
a docstring or comment still counts as referenced; decorated
definitions are registered by their decorator (``@query``, ``@udf``)
and dunders are called by Python, so both are exempt.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "duckdb_extension_kafquack_spark")


def _py_files(*roots: str) -> list[str]:
    out = []
    for root in roots:
        if os.path.isfile(root):
            out.append(root)
            continue
        for dirpath, _dirs, files in os.walk(root):
            out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _top_level_defs(path: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    return [
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.decorator_list
        and not (node.name.startswith("__") and node.name.endswith("__"))
    ]


def unreferenced_defs() -> list[str]:
    """``module:name`` for every undecorated, non-dunder top-level def in
    the package whose name occurs exactly once (its own definition) in
    the scanned file set."""
    files = _py_files(
        PACKAGE,
        os.path.join(REPO, "tests"),
        os.path.join(REPO, "tools"),
        os.path.join(REPO, "perfbench"),
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "__spark_entry__.py"),
    )
    text = "\n".join(open(f).read() for f in files)
    dead = []
    for path in _py_files(PACKAGE):
        for name in _top_level_defs(path):
            if len(re.findall(rf"\b{re.escape(name)}\b", text)) == 1:
                dead.append(f"{os.path.relpath(path, REPO)}:{name}")
    return dead


def test_no_unreferenced_top_level_defs():
    assert unreferenced_defs() == []
