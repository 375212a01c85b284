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


def _generation_readers() -> dict[str, ast.FunctionDef]:
    """``module.function`` -> AST of every public module-level function
    under ``streaming/`` that reaches the index generation: its body
    (closures included) names a public name imported from
    ``index.generation`` or ``index.probe``, or calls another such
    streaming function.  (The private ``_complete_pending_swap`` is a
    table-level crash repair the band index uses too.)"""
    index_mods = (
        "awsbatch_mapreduce_spark.index.generation",
        "awsbatch_mapreduce_spark.index.probe",
    )
    funcs, direct = {}, set()
    for f in sorted(os.listdir(STREAMING_DIR)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(STREAMING_DIR, f)) as fh:
            tree = ast.parse(fh.read())
        imported = {
            a.asname or a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.module in index_mods
            for a in node.names
            if not a.name.startswith("_")
        }
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                funcs[node.name] = (f[:-3], node)
                names = {
                    n.id for n in ast.walk(node) if isinstance(n, ast.Name)
                }
                if names & imported:
                    direct.add(node.name)
    readers = set(direct)
    grew = True
    while grew:
        grew = False
        for name, (_, node) in funcs.items():
            if name not in readers and any(
                isinstance(n, ast.Name) and n.id in readers
                for n in ast.walk(node)
            ):
                readers.add(name)
                grew = True
    return {
        f"{funcs[name][0]}.{name}": funcs[name][1]
        for name in sorted(readers)
        if not name.startswith("_")
    }


def test_index_streams_bind_only_the_generation_pointer():
    """Every public streaming callable that reaches the index generation
    takes a ``pointer_path`` with no default, and none takes an index
    table name (``*_tbl``) or a ``GenerationLayout``: the pointer is the
    one binding of what a stream serves.  (The band-index stream,
    ``streaming/lsh.py``, reaches only ``index.bands``, which has no
    generation pointer.)"""
    readers = _generation_readers()
    assert {
        "codebook.foreach_batch_codebook_probe",
        "codebook.foreach_batch_codebook_admit_probe",
        "supervisor.admit_probe_with_cadence",
        "supervisor.run_supervised_admission",
    } <= set(readers), sorted(readers)
    bad = []
    for name, node in readers.items():
        a = node.args
        params = a.posonlyargs + a.args + a.kwonlyargs
        for p in params:
            ann = ast.unparse(p.annotation) if p.annotation else ""
            if p.arg.endswith("_tbl") or "GenerationLayout" in ann:
                bad.append((name, p.arg, ann))
        positional = a.posonlyargs + a.args
        defaulted = {
            p.arg for p in positional[len(positional) - len(a.defaults):]
        } | {
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        }
        if "pointer_path" not in {p.arg for p in params}:
            bad.append((name, "no pointer_path", ""))
        elif "pointer_path" in defaulted:
            bad.append((name, "pointer_path has a default", ""))
    assert bad == []
