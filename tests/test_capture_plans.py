"""``scripts/capture_plans.normalise`` strips what changes from run to
run, so two captures of the same plans diff empty whatever else the
session planned before them."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one Project line as a capture prints it: expression ids, lambda
# counters and a checkpointed scan's call site all depend on what the
# session ran earlier
_SAMPLE = (
    "(3) Project [codegen id : 1]\n"
    "Output [2]: [vec_id#12L, nn#40L]\n"
    "Input [2]: [vec_id#12L, vq#13]\n"
    "aggregate(vq#13, 0, lambdafunction((lambda x_90 + (lambda y_91 *"
    " lambda y_91)), lambda x_90, lambda y_91, false), lambdafunction("
    "lambda x_92, lambda x_92, false)) AS nn#40L\n"
    "Arguments: [vec_id, vq], MapPartitionsRDD at localCheckpoint at"
    " NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)"
    " [plan_id=7]\n"
)


def _normalise():
    spec = importlib.util.spec_from_file_location(
        "capture_plans", os.path.join(ROOT, "scripts", "capture_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalise


def test_normalise_strips_run_dependent_counters():
    normalise = _normalise()
    later = (
        _SAMPLE.replace("#", "#1")
        .replace("x_9", "x_31")
        .replace("y_9", "y_31")
        .replace("NativeMethodAccessorImpl.java", "<unknown>")
        .replace("plan_id=7", "plan_id=70")
    )
    assert normalise(_SAMPLE) == normalise(later)
    out = normalise(_SAMPLE)
    assert "lambda x_" not in out and "lambda y_" not in out
    assert "lambdafunction((lambda x + (lambda y * lambda y))" in out
    assert "localCheckpoint at <call site>" in out
    assert "Output [2]: [vec_id, nn]" in out
