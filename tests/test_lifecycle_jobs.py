"""Job-count pins of the codebook lifecycle builders.

A lifecycle builder runs its verbs eagerly — the bounds ``.first()``,
the Lloyd collects, the table writes, the checkpoints, the pointer
probes — and returns a lazy frame.  ``plans/golden/`` pins the plans of
that frame and of the builder's checkpoints, but not how many jobs the
builder itself submits, so nothing else would notice a runner that
added one.  Every job one builder call submits is counted here: the
jobs of the calling thread (tagged with a job group) plus the ungrouped
jobs that ``build_generation`` submits from its own thread pool.

``codebook_tombstone_probe`` is the lifecycle the benchmark times;
``codebook_adc_escalated_refit`` runs the longest verb script.
"""

from __future__ import annotations

import itertools

import pytest

from awsbatch_mapreduce_spark.plans import QUERIES
from tests.conftest import SF_DIR

_CALLS = itertools.count()


def _jobs_submitted(spark, name: str, sf_dir: str) -> int:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(30_000)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    group = f"lifecycle-jobs-{name}-{next(_CALLS)}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name].builder(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty(30_000)
    grouped = set(tracker.getJobIdsForGroup(group))
    ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    return len(grouped | ungrouped)


@pytest.mark.parametrize(
    "name, jobs",
    [
        ("codebook_tombstone_probe", 27),
        ("codebook_adc_escalated_refit", 71),
    ],
)
def test_builder_job_count(spark, name, jobs):
    assert _jobs_submitted(spark, name, SF_DIR) == jobs
