"""Capture normalised .explain("formatted") plans into plans/<suffix>/.

Usage: python scripts/capture_plans.py <suffix> [query ...]
With no query names, captures the 18 headline queries.  Writes
plans/<suffix>/<query>.txt (an absolute <suffix> is used as the output
directory itself).  Uses a small local session (plan
capture is untimed; the physical plan shape is core-count independent
apart from partition counts).

Each file holds the query's plan, preceded by the plan of every frame
its builder ``localCheckpoint``s: those run eagerly at build time and
show up in the query plan only as ``Scan ExistingRDD``.  Expression
ids (``#123``), ``[plan_id=N]`` tags, RDD ids, the counters in
lambda-variable names (``lambda x_90``) and the call sites of
checkpointed RDDs change from run to run and are stripped, and the
fixture and temp directories are replaced by ``<sf_dir>`` and
``<tmp>``, so two captures of the same plans diff empty, whatever
other queries the run captured before them:

    python scripts/capture_plans.py before dedup_minhash_lsh
    # ... change the code ...
    python scripts/capture_plans.py after dedup_minhash_lsh
    diff -r plans/before plans/after

``plans/golden/`` holds the committed capture of the index and dedup
families at sf0.01; ``tests/test_plan_golden.py`` re-captures it and
diffs.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame

from awsbatch_mapreduce_spark.plans import QUERIES
from awsbatch_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")

_RUN_IDS = [
    (re.compile(r"(?<=[^\s(,\[])#\d+L?"), ""),  # expression ids, not literals
    (re.compile(r",? ?\[plan_id=\d+\]"), ""),  # exchange / subquery ids
    (re.compile(r"RDD\[\d+\]"), "RDD"),  # checkpointed RDD ids
    # PySpark names lambda variables x_N / y_N / z_N from a session-wide
    # counter, so N depends on how many lambdas were built before
    (re.compile(r"\b(lambda [xyz])_\d+\b"), r"\1"),
    # the JVM call site of a checkpointed RDD reads NativeMethodAccessorImpl
    # until the JVM replaces reflective calls with generated accessors
    # (<unknown>), which also depends on what ran before
    (re.compile(r"(RDD at \w+ at )\S+:\d+"), r"\1<call site>"),
]


# the fixture and scratch directories depend on the host, not the plan
_LOCATIONS = [
    (f"file:{os.path.abspath(SF_DIR)}", "file:<sf_dir>"),
    (f"file:{tempfile.gettempdir()}", "file:<tmp>"),
]


def normalise(plan: str) -> str:
    for pattern, repl in _RUN_IDS:
        plan = pattern.sub(repl, plan)
    for path, repl in _LOCATIONS:
        plan = plan.replace(path, repl)
    return plan


def _formatted(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return normalise(
        jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    )


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    spark = get_spark(app_name="plan-capture", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = os.path.join(PLANS, suffix)
    os.makedirs(out, exist_ok=True)

    checkpointed: list[str] = []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    local_checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, eager=True, storageLevel=None):
        checkpointed.append(_formatted(self))
        return local_checkpoint(self, eager, storageLevel)

    frame_cls.localCheckpoint = recording_checkpoint
    try:
        for name in names:
            checkpointed.clear()
            df = QUERIES[name].builder(spark, SF_DIR)
            sections = [
                f"== localCheckpoint {i} ==\n{txt}"
                for i, txt in enumerate(checkpointed, 1)
            ]
            sections.append(f"== query ==\n{_formatted(df)}")
            with open(os.path.join(out, f"{name}.txt"), "w") as fh:
                fh.write("\n".join(sections))
            print(name, "->", os.path.join("plans", suffix, f"{name}.txt"))
    finally:
        frame_cls.localCheckpoint = local_checkpoint
    spark.stop()


if __name__ == "__main__":
    main()
