"""One-off idle adjudication of the dedup_prefix_filter drift
(VERDICT r12 ask #3): 51.5 s (r9) -> 55.6 (r10) -> 65.9 (r12, drift
1.28 vs reference) rose three rounds straight while round 11 touched no
prefix-filter code.  Hypothesis on record: loaded grading host, not a
plan change (the whole r12 extended tail moved +10-15% uniformly while
the idle sweep run006 read the codebook probes BELOW their bench
minima).

Protocol = bench.py's, exactly: same session config, ERROR log level,
the host-speed calibration probe first (min-of-5 after warm-up), then
the observed prefix-filter plan with a noop-format write, single-shot
(no warm-up — bench.py's heavy-query discipline, which since round 14
times the prefix filter min-of-3 via _NO_WARMUP_REPS), repeated
``N_SHOTS`` times so the idle spread is on record too.  Prints one
JSON line; the SCALING.md adjudication note quotes it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from awsbatch_mapreduce_spark.plans.dedup import dedup_prefix_filter_observed
from awsbatch_mapreduce_spark.session import get_spark

N_SHOTS = int(os.environ.get("ADJUDICATE_SHOTS", "3"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import bench  # repo-root bench.py — reuse its calibration probe

    spark = get_spark(app_name="awsbatch-prefix-drift-adjudication")
    spark.sparkContext.setLogLevel("ERROR")
    calibration = bench._calibration_sec(spark)

    shots = []
    candidates = None
    for _ in range(N_SHOTS):
        df, obs_cand, obs_common = dedup_prefix_filter_observed(spark, SF_DIR)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        shots.append(round(time.perf_counter() - t0, 3))
        candidates = int(obs_cand.get["n"])

    print(
        json.dumps(
            {
                "probe": "dedup_prefix_filter_idle_adjudication",
                "calibration_sec": calibration,
                "shots_sec": shots,
                "min_sec": min(shots),
                "candidates": candidates,
                "r12_bench_sec": 65.919,
                "r12_calibration_sec": 0.33,
                "reference_sec": 51.5,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
