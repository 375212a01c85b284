"""Generate QUERIES.md — the one-page index of every registered query
(VERDICT r4 #8): name -> defining module:line -> oracle'd.

Run ``python scripts/gen_queries_md.py`` to rewrite QUERIES.md;
``tests/test_queries_md.py`` pins the file against drift by
regenerating it and comparing.
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def render() -> str:
    """Render the index from the live registry plus the FULL union of
    driver ``CORRECTNESS_r*.json`` records.  The proven column is a
    pure function of the record files, so ``tests/test_queries_md.py``
    regenerates the page whenever a new record lands (VERDICT r8 #2:
    stale-proof by construction, not by per-round discipline)."""
    from awsbatch_mapreduce_spark.plans import QUERIES, grading_order
    from awsbatch_mapreduce_spark.plans.registry import _driver_proven

    proven = _driver_proven()
    lines = [
        "# Query index",
        "",
        "Generated by `scripts/gen_queries_md.py` — do not edit by hand",
        "(`tests/test_queries_md.py` pins it against the registry).",
        "",
        f"{len(QUERIES)} registered queries; every one is exposed through"
        " `__spark_entry__.queries()` / `oracle_sql()`.  *proven* ="
        " fully-green row in a driver `CORRECTNESS_r*.json` so far;"
        " grading order for the next round's ~50-query window is"
        " documented in `plans/registry.py:grading_order`.",
        "",
        "| query | defined at | oracle | proven |",
        "|---|---|---|---|",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    order = grading_order(QUERIES)
    for name in QUERIES:  # registration order: stable, reviewable
        spec = QUERIES[name]
        fn = inspect.unwrap(spec.builder)
        src = os.path.relpath(inspect.getsourcefile(fn), root)
        line = inspect.getsourcelines(fn)[1]
        lines.append(
            f"| {name} | `{src}:{line}` |"
            f" {'sql' if spec.oracle else 'rows-only'} |"
            f" {'yes' if name in proven else f'pending (#{order.index(name) + 1})'} |"
        )
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(root, "QUERIES.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
