"""foreachBatch keyed-upsert sink: maintain a "latest row per key"
parquet table from a stream (the CDC-compaction / MERGE pattern).

Structured Streaming's built-in sinks are append-oriented; upserts go
through ``foreachBatch``, which hands each micro-batch to arbitrary
batch code.  Here every batch is merged with the current snapshot and
the latest row per key wins — replaying a batch after a crash
converges to the same table, so the sink is idempotent (exactly-once
*table state* on top of at-least-once delivery).

The snapshot swap is write-to-staging + directory rename, never a
read-and-overwrite of the same path (a lazy self-overwrite corrupts
the table it is still reading).  On a real deployment the staging swap
is replaced by a table format's atomic MERGE/commit (Delta/Iceberg);
the micro-batch merge logic — union + row_number keep-latest — is
unchanged, and that logic is the scalable part: one shuffle per batch
on the key, proportional to batch + table size, no driver collect.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def latest_per_key(df: DataFrame) -> DataFrame:
    """Keep the newest row (by ``ts``) per ``user_id`` (ties broken by
    ``event_id`` so the survivor is deterministic under any
    partitioning)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def foreach_batch_upsert(target_dir: str) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` merge function for a latest-per-key
    parquet table at ``target_dir``."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        merged = batch_df
        if os.path.isdir(target_dir):
            current = spark.read.parquet(target_dir).select(*batch_df.columns)
            merged = current.unionByName(batch_df)
        latest = latest_per_key(merged)
        staging = f"{target_dir}.staging-{batch_id}"
        latest.write.mode("overwrite").parquet(staging)
        if os.path.isdir(target_dir):
            shutil.rmtree(target_dir)
        os.rename(staging, target_dir)

    return merge
