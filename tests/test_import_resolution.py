"""Every ``from awsbatch_mapreduce_spark... import name`` in the package,
the scripts, ``bench.py`` and ``perfbench/`` resolves to an existing
attribute — function-local imports included.

Several scripts import package names lazily inside ``main()`` and no
other test runs them, so a name moved or deleted in the package would
otherwise surface only when someone runs the script.  Pure AST walk
plus module imports: no Spark session is started.
"""

from __future__ import annotations

import ast
import importlib
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "awsbatch_mapreduce_spark"


def _sources() -> list[str]:
    paths = [os.path.join(ROOT, "bench.py")]
    for top in (PACKAGE, "scripts", "perfbench"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            paths += [
                os.path.join(dirpath, f) for f in files if f.endswith(".py")
            ]
    return sorted(paths)


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every absolute import of the package;
    ``name`` is None for a plain ``import module``."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            top = (node.module or "").split(".")[0]
            if node.level == 0 and top == PACKAGE:
                found += [
                    (node.lineno, node.module, a.name) for a in node.names
                ]
        elif isinstance(node, ast.Import):
            found += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.split(".")[0] == PACKAGE
            ]
    return found


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_walk_covers_the_lazy_script_imports():
    """The walk sees function-local imports (the case it exists for)."""
    script = os.path.join(ROOT, "scripts", "codebook_auto_refit.py")
    lazy = _package_imports(script)
    assert any(m.endswith("index.generation") for _, m, _ in lazy)


@pytest.mark.parametrize(
    "path", _sources(), ids=lambda p: os.path.relpath(p, ROOT)
)
def test_package_imports_resolve(path):
    missing = [
        f"{os.path.relpath(path, ROOT)}:{line}: from {module} import {name}"
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)


def test_no_module_is_named_after_a_round():
    """Package modules are named for their domain, never for the round
    that added them (``wave3``, ``wave10``, ...)."""
    rounds = [
        os.path.relpath(os.path.join(dirpath, name), ROOT)
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, PACKAGE))
        for name in dirs + [f for f in files if f.endswith(".py")]
        if re.search(r"wave\d+", name)
    ]
    assert not rounds, rounds
