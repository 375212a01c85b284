"""The streaming runtime imports no query module.

The index library lives in ``index/`` (generation storage and its
table-writing verbs, codebook arithmetic, probe); ``streaming/`` reaches
the index only through it.  A ``plans`` import in the runtime —
function-local ones included — fails here instead of quietly
re-coupling it to a query module.
"""

from __future__ import annotations

import ast
import os

import awsbatch_mapreduce_spark

STREAMING_DIR = os.path.join(
    os.path.dirname(awsbatch_mapreduce_spark.__file__), "streaming"
)


def _plans_imports() -> list[tuple[str, int, str, list[str]]]:
    """(file, line, module, names) of every ``from …plans… import``
    under ``streaming/``, function-local ones included."""
    found = []
    for f in sorted(os.listdir(STREAMING_DIR)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(STREAMING_DIR, f)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and ".plans" in (
                "." + (node.module or "")
            ):
                found.append(
                    (f, node.lineno, node.module, [a.name for a in node.names])
                )
            elif isinstance(node, ast.Import):
                found += [
                    (f, node.lineno, a.name, [])
                    for a in node.names
                    if ".plans" in "." + a.name
                ]
    return found


def test_streaming_imports_no_plans_module():
    assert _plans_imports() == []
