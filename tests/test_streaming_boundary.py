"""What the streaming runtime still takes from the query modules.

The index library is moving out of the ``plans`` modules part by part
(``index/generation.py``, ``index/codebook.py``, ``index/probe.py``).
What ``streaming/`` may still import from ``plans`` is exactly the
names of the codebook part that has not moved yet: the fit, the guarded
refit, admission and the fixture cap.  A new ``plans`` import in the
runtime fails here instead of quietly re-coupling it to a query module.
"""

from __future__ import annotations

import ast
import os

import awsbatch_mapreduce_spark

STREAMING_DIR = os.path.join(
    os.path.dirname(awsbatch_mapreduce_spark.__file__), "streaming"
)

PENDING = {"_admit_batch", "_CAP", "build_generation", "refit_and_cutover"}


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


def test_streaming_imports_only_pending_codebook_names_from_plans():
    found = _plans_imports()
    assert found  # the walk sees the imports that are still pending
    offenders = [
        (f, line, module, names)
        for f, line, module, names in found
        if not names or set(names) - PENDING
    ]
    assert not offenders, offenders
