"""Every registered oracle's SQL text is pinned byte for byte.

``plans/golden/oracles.json`` maps each query name to the sha256 of its
``QUERIES[name].oracle``.  A refactor of the oracle fragments must
leave every hash unchanged; a change that alters a reference on purpose
rewrites the file in the same commit, so the diff names the queries
whose reference moved.  No Spark session: this runs in milliseconds.

Regenerate after an intended oracle change with::

    python -c "import hashlib, json; \\
      from awsbatch_mapreduce_spark.plans import QUERIES; \\
      print(json.dumps({n: hashlib.sha256(s.oracle.encode()).hexdigest() \\
      for n, s in sorted(QUERIES.items())}, indent=1, sort_keys=True))" \\
      > plans/golden/oracles.json
"""

from __future__ import annotations

import hashlib
import json
import os

from awsbatch_mapreduce_spark.plans import QUERIES

GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    "golden",
    "oracles.json",
)


def test_oracle_texts_match_golden():
    with open(GOLDEN) as f:
        want = json.load(f)
    got = {
        name: hashlib.sha256(spec.oracle.encode()).hexdigest()
        for name, spec in QUERIES.items()
    }
    changed = sorted(n for n in want.keys() | got.keys() if want.get(n) != got.get(n))
    assert not changed, (
        f"{len(changed)} oracle text(s) differ from plans/golden/oracles.json"
        " (missing, added or changed): " + ", ".join(changed)
    )
