"""Generate SCAN_AUDIT.json — the registry-wide column-pruning map
(round 9): for every registered query, every parquet scan in its
statically-planned formatted explain, and the NUMBER OF COLUMNS that
scan actually reads (top-level fields of its ReadSchema).

Why: at 100 TB a scan that reads the full table width for a narrow
projection is a silent multi-TB regression, and only two queries had
explicit pruning pins.  Like the broadcast budget, the audit is an
ENUMERATION, not a judgment — some full-width scans are correct
(column profilers, drift snapshots) — but any change to any scan's
width anywhere in the registry now shows up as a one-line diff in a
committed file, and ``tests/test_scale_plans.py`` pins the file
against the live plans (same regenerate-on-change contract as
QUERIES.md).

The audit also records each query's shuffle count (``n_shuffles`` =
detail-block ``Exchange`` nodes in the static plan, broadcast
exchanges excluded): an accidental extra shuffle — lost bucketing, a
stray repartition, a join flipped off its co-located path — is the
other silent scale regression the broadcast budget cannot see.

Run ``python scripts/gen_scan_audit.py`` to rewrite SCAN_AUDIT.json.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_OUT = os.path.join(_ROOT, "SCAN_AUDIT.json")

# per-fixture scratch tags (``scratch._scratch_tag``: basename + md5[:8])
# normalize to a stable name so the audit is fixture-path-independent
_TAG = re.compile(r"_sf[0-9_]+_[0-9a-f]{8}$")


def _n_top_level_fields(struct_body: str) -> int:
    """Count top-level fields of ``ReadSchema: struct<...>`` — commas
    inside nested ``array<...>``/``struct<...>``/``map<...>`` types
    must not split (embedding:array<float> is one column)."""
    if not struct_body.strip():
        return 0
    depth = 0
    n = 1
    for ch in struct_body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


def extract_scans(plan: str) -> dict[str, list[int]]:
    """Parquet-scan widths per (normalized) source name from a
    formatted explain: ``{source: sorted widths, one per scan}``."""
    scans: dict[str, list[int]] = {}
    # detail blocks: "(N) Scan parquet [catalog.table]\n...\nLocation:
    # ... [file:/path, ...]\n...\nReadSchema: struct<...>"
    for m in re.finditer(
        r"\(\d+\) Scan parquet ?([^\n]*)\n(?:(?!\(\d+\) )[^\n]*\n)*?"
        r"ReadSchema: struct<(.*)>",
        plan,
    ):
        header, schema = m.group(1).strip(), m.group(2)
        if header:  # catalog table, e.g. spark_catalog.default.lsh_band_idx_x
            name = _TAG.sub("", header.rsplit(".", 1)[-1])
        else:
            loc = re.search(
                r"Location: \w+ \[[^:\]]*:?([^,\]]*)", m.group(0)
            )
            base = os.path.basename((loc.group(1) if loc else "").rstrip("/"))
            name = _TAG.sub("", base.removesuffix(".parquet")) or "unknown"
        scans.setdefault(name, []).append(_n_top_level_fields(schema))
    return {k: sorted(v) for k, v in sorted(scans.items())}


def n_shuffles(plan: str) -> int:
    """Shuffle-Exchange detail blocks in the static plan (broadcast
    exchanges deliberately excluded — those have their own budget)."""
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))


def render(plans: dict[str, str]) -> dict:
    return {
        "_doc": "Registry-wide plan audit (gen_scan_audit.py): per "
        "query, each scanned parquet source -> sorted ReadSchema "
        "widths of its scans, plus the static plan's shuffle-Exchange "
        "count.  Regenerate after any plan-affecting change.",
        "queries": {
            name: {
                "scans": extract_scans(plan),
                "n_shuffles": n_shuffles(plan),
            }
            for name, plan in sorted(plans.items())
        },
    }


def main() -> None:
    from awsbatch_mapreduce_spark.plans import QUERIES
    from awsbatch_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="awsbatch-mapreduce-spark-scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get(
        # default matches tests/conftest.py SF_DIR so the drift pin in
        # tests/test_scale_plans.py can reuse its memoized plan cache
        "SPARK_GRAFT_TEST_SF_DIR",
        "/root/testdata/sf0.001",
    )
    plans = {}
    for name, spec in QUERIES.items():
        df = spec.builder(spark, sf_dir)
        plans[name] = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    with open(_OUT, "w") as fh:
        json.dump(render(plans), fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()
    print(f"wrote {_OUT}")


if __name__ == "__main__":
    main()
