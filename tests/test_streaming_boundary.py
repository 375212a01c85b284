"""The streaming runtime imports no query module, and the band index
has one owner.

The index library lives in ``index/`` (generation storage and its
table-writing verbs, codebook arithmetic, probe, band index);
``streaming/`` reaches the index only through it.  A ``plans`` import in
the runtime — function-local ones included — fails here instead of
quietly re-coupling it to a query module.  In the other direction, no
query module takes the band index from the streaming runtime, and no
module but ``index/bands.py`` writes a table bucketed on the band key.
"""

from __future__ import annotations

import ast
import os

import awsbatch_mapreduce_spark

PACKAGE_DIR = os.path.dirname(awsbatch_mapreduce_spark.__file__)
STREAMING_DIR = os.path.join(PACKAGE_DIR, "streaming")


def _package_trees():
    """(path relative to the package, AST) of every package module."""
    for root, _, files in os.walk(PACKAGE_DIR):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PACKAGE_DIR), ast.parse(
                        fh.read()
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


def test_no_plans_module_imports_the_stream_gate():
    found = []
    for rel, tree in _package_trees():
        if not rel.startswith("plans" + os.sep):
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
                mods += [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            found += [
                (rel, node.lineno, m) for m in mods
                if m.endswith("streaming.lsh")
            ]
    assert found == []


def test_only_the_band_index_buckets_on_bk():
    """The band index's bucket spec and its bucketed write live in
    ``index/bands.py`` alone."""
    found = [
        (rel, node.lineno)
        for rel, tree in _package_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "bucketBy"
        and any(
            isinstance(a, ast.Constant) and a.value == "bk"
            for a in node.args
        )
    ]
    assert [rel for rel, _ in found] == [
        os.path.join("index", "bands.py")
    ], found
