"""SparkSession factory with scale-aware defaults.

Replaces the reference's orchestration substrate (AWS Batch array jobs +
S3 manifests + job dependencies, ``src/awsbatch-mapreduce/Implementation.cs:14-79``
and ``infra/Program.cs:47-274``) with Spark's scheduler: partitioned reads
give fan-out (X1), the DAG gives stage barriers (X3), and the shuffle
replaces S3 as the exchange medium (X4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def driver_memory(ram_bytes: int) -> str:
    """The default driver heap for a host with ``ram_bytes`` of
    physical RAM: the smaller of 24g and half of it, in whole GiB (at
    least 1g)."""
    return f"{max(1, min(24, ram_bytes // 2**31))}g"


# Defaults tuned for the local[32] test harness; on a real cluster these
# are overridden by spark-submit conf.  AQE handles runtime re-planning
# (coalescing small shuffle partitions, skew-join splitting) so the same
# logical plans survive a 100x scale-up without re-tuning.
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: coalesce post-shuffle partitions, split skewed
    # join partitions, convert to broadcast at runtime when a side is small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / toPandas — the reference's vectorized-numpy
    # stance (src/awsbatch-map/main.py:67-72) maps to Arrow batches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dims (region/nation/supplier) stay broadcast
    # even at 100 TB fact scale; AQE may upgrade others at runtime.
    # Broadcast hygiene (SCALING.md "Broadcast hygiene" / VERDICT r5):
    # size-based selection — static or AQE — only ever sees frames that
    # are broadcast-SAFE, because every data-scaled side of the
    # dedup/ANN ladders is pinned to sort-merge at the plan level
    # (operators/hints.py:never_broadcast, enforced by test_scale_plans.py::
    # test_dedup_ladder_never_broadcasts_data_scaled_sides).  Raising
    # this threshold can therefore never re-create the sf1-rehearsal
    # driver OOM; it only widens eligibility for bounded dims.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Parquet: vectorized reader + pushdown are on by default; keep
    # explicit so a conf audit shows intent.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Shuffle writer (round-18 optimization, guide §2.2 "fewer, larger
    # blocks"): below this threshold Spark's bypass-merge writer opens
    # ONE FILE PER REDUCE PARTITION per map task (R x M tiny files +
    # per-file open/close), which the SQL-tab metrics showed dominating
    # every small exchange here — e.g. dedup_minhash_lsh spent 3.7 s of
    # task time in "shuffle write time" moving 5 MB.  Threshold 1
    # selects the sort-based writer everywhere: one data + one index
    # file per map task regardless of R.  Scale-neutral: with R > 200
    # (any real cluster shuffle) the sort writer is already the
    # default; this only aligns the small-R case with it.  Measured:
    # headline set 15.6 s -> ~10 s at sf0.1, biggest single lever of
    # the round (OPTIMIZATION_r18.md).
    "spark.shuffle.sort.bypassMergeThreshold": "1",
    # Larger shuffle-file buffer: fewer write syscalls per spill/output
    # (guide §2.2; standard production setting, 32k default is
    # conservative).  1m x one open writer per task is bounded memory.
    "spark.shuffle.file.buffer": "1m",
    # Subset co-partitioning (round 19, guide §2.4 "remove shuffles
    # outright"): with the default (true), a join only reuses its
    # children's partitioning when they are hash-partitioned on ALL
    # join keys, so an explicit repartition on a KEY SUBSET chosen to
    # also serve a downstream aggregate is rewritten to the full key
    # set and the aggregate re-exchanges.  False restores the
    # documented subset rule (partitioning expressions ⊆ join keys,
    # both sides matching).  Concretely: the prefix-filter verify
    # partitions both sides of its (id_b, h) join on id_b ALONE, which
    # satisfies the join AND the (id_a, id_b) pair count — the 450M-row
    # expanded frame crosses ONE exchange instead of two.  Semantics-
    # free (plan-shape only); scale behavior is strictly fewer bytes
    # shuffled; it applies only where both sides are deliberately
    # co-partitioned on a subset, which in this repo is always an
    # explicit repartition.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # Local mode runs driver + all 32 executor threads in ONE JVM; the
    # 1g default heap gives ~19 MB of execution memory per concurrent
    # task, which starves 32-way sort-merge joins into GC thrash and
    # heap OOM (observed when the round-6 broadcast-hygiene pins moved
    # the dedup ladders from broadcast to SMJ).  Round 18 raised 8g ->
    # 24g (guide §5 "heavy spill is slow"): the prefix-filter verify's
    # 450M-row join+aggregate spilled 7.5 GB of execution memory per
    # run at 8g; measured warm walls 8g 49.8 s / 16g 45.9 s / 24g
    # 30.6 s.  24g is a max-usage bound, not a reservation, but on a
    # host with less than 48 GiB it is more than half the machine (a
    # 24g heap under local[32] can push a small machine into swap
    # instead of letting Spark spill): there the default is half of
    # physical RAM (``driver_memory``).  $SPARK_GRAFT_DRIVER_MEM
    # overrides it; under spark-submit on a real cluster the submitted
    # --driver-memory/--executor-memory win.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM",
        driver_memory(
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        ),
    ),
}


def get_spark(
    app_name: str = "awsbatch-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; under spark-submit the submitted master wins.
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster leave it unset and let AQE coalesce from a high initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
