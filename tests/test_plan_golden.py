"""The committed plan gate: the index and dedup query families' plans
equal ``plans/golden/``.

Every ``.txt`` file in ``plans/golden/`` is the normalised ``.explain("formatted")``
capture (``scripts/capture_plans.py``) of one registered query at
sf0.01, preceded by the plans of the frames its builder
``localCheckpoint``s.  This test re-captures the same queries in a
subprocess — its own ``local[4]`` session, a temporary working
directory, warehouse and ``TMPDIR``, so nothing lands in the repository
— and compares the result with the committed files.

A refactor must leave ``golden/`` untouched.  A change that moves a
plan on purpose re-captures ``golden/`` in the same commit, so the
plan change shows in its diff:

    SPARK_GRAFT_SF_DIR=/path/to/sf0.01 \\
        python scripts/capture_plans.py "$PWD/plans/golden" $(cd plans/golden && ls *.txt | sed 's/.txt$//')

(``plans/golden/oracles.json`` beside them is the oracle-text gate of
``tests/test_oracle_golden.py``, not a plan.)
"""

from __future__ import annotations

import difflib
import os
import subprocess
import sys

from tests.conftest import SF_DIR_ORACLE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "plans", "golden")
CAPTURE = os.path.join(REPO, "scripts", "capture_plans.py")


def test_plans_match_golden(tmp_path):
    plans = sorted(f for f in os.listdir(GOLDEN) if f.endswith(".txt"))
    names = [f[: -len(".txt")] for f in plans]
    assert names, "plans/golden/ is empty"
    out, cwd, tmp = (tmp_path / d for d in ("plans", "cwd", "tmp"))
    cwd.mkdir()
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_SF_DIR=SF_DIR_ORACLE)
    proc = subprocess.run(
        [sys.executable, CAPTURE, str(out), *names],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=1500,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert sorted(os.listdir(out)) == plans
    drifted = []
    for f in plans:
        with open(os.path.join(GOLDEN, f)) as fh:
            want = fh.read().splitlines()
        with open(out / f) as fh:
            got = fh.read().splitlines()
        if got != want:
            diff = difflib.unified_diff(
                want, got, f"golden/{f}", f"recaptured/{f}", lineterm="", n=2
            )
            drifted.append("\n".join(list(diff)[:60]))
    assert not drifted, "plans drifted from plans/golden/:\n" + "\n\n".join(
        drifted
    )
