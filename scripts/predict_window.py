"""Freeze the PREDICTED driver grading window for the upcoming round
(VERDICT r10 #5: the first live validation of the stalest-first
rotation under driver conditions).

``grading_order`` is deterministic given the registry and the
CORRECTNESS_r*.json union, but by the time the next round's record
exists the union has CHANGED (it now contains that record), so the
prediction cannot be recomputed after the fact — it must be frozen
before the driver runs.  This script writes
``PREDICTED_WINDOW_r{N}.json`` with the first ``_WINDOW`` names of the
current grading order; ``tests/test_registry_order.py::
test_realized_driver_window_matches_frozen_prediction`` compares the
frozen prediction against ``CORRECTNESS_r{N}.json`` once the driver
has written it (skips until then).

Usage::

    python scripts/predict_window.py 11    # freeze round-11 prediction
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Driver window cap observed across r1-r10: every record holds
# exactly 50 rows.
_WINDOW = 50


def main() -> None:
    from awsbatch_mapreduce_spark.plans import QUERIES
    from awsbatch_mapreduce_spark.plans.registry import (
        _green_round_map,
        grading_order,
    )

    rnd = int(sys.argv[1])
    order = grading_order(QUERIES)
    last_green = _green_round_map() or {}
    out = {
        "round": rnd,
        "window": order[:_WINDOW],
        "assumed_cap": _WINDOW,
        "stale_rounds": {
            n: last_green.get(n, 0) for n in order[:_WINDOW]
        },
        "note": (
            "Frozen BEFORE the driver run; the realized window is the key"
            " set of CORRECTNESS_r{:02d}.json.  Never-proven newcomers"
            " lead (registration order), then stalest driver grades.".format(rnd)
        ),
    }
    path = os.path.join(_ROOT, f"PREDICTED_WINDOW_r{rnd:02d}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"wrote": path, "n": len(out["window"]),
                      "head": out["window"][:5]}))


if __name__ == "__main__":
    main()
