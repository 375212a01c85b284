"""The benchmark's named workloads.

Each workload is a list of steps.  A step is a registry query name
(``plans.QUERIES[name].builder(spark, data_dir)`` followed by a ``noop``
write) or ``PIPELINE``: ``pipeline.run_reference_pipeline`` over the first
``PIPELINE_MONTHS`` months of the ship dates, 1995-01..1996-12, as many
months as the reference demo's 24 map tasks.  Every workload puts most of its time in one layer and little in the others;
README.md has the layer map.
"""

from __future__ import annotations

from dataclasses import dataclass

PIPELINE = "reference_pipeline"
PIPELINE_MONTHS = 24


@dataclass(frozen=True)
class Workload:
    steps: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    "analytics": Workload(
        steps=(
            "q1_pricing_summary",
            "q5_nation_revenue",
            "events_sessionization",
            PIPELINE,
        ),
        why="overhead-bound scans, joins, aggregates and windows, plus the "
        "paper's map-reduce with its driver-side PNG rendering",
    ),
    "dedup_index": Workload(
        steps=(
            "minhash_lsh_eval",
            "codebook_tombstone_probe",
        ),
        why="the MinHash-LSH dedup ladder (shuffle-heavy joins with eager "
        "in-builder checkpoints) and the persisted index's lifecycle (fit, "
        "cutover and tombstone writes beside a probe: many small jobs)",
    ),
}
