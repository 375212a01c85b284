"""Corpus export: materialize the curated dataset as split- and
shard-partitioned parquet.

The write-side counterpart of ``plans.sampling``: the same
deterministic md5 bucketing assigns every document a split
(train/val/test, 80/10/10) and a shard, and the writer lays the corpus
out as ``split=<s>/shard=<k>/*.parquet`` — the layout a training job
consumes (readers partition-prune to their split; shards bound
per-file size and give the loader its parallelism unit).

Scale: one narrow projection + one ``partitionBy`` write.  Shard count
is the knob for output file size (100 TB / n_shards); because both
assignments are pure functions of doc_id, re-exports after appends
keep every existing document's placement — only new docs land in new
files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.plans.sampling import md5_bucket


def assign_split_and_shard(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Add deterministic ``split`` and ``shard`` columns.

    Split buckets on md5(doc_id); shards bucket on md5(doc_id || '#shard') so
    the two assignments are independent (a shard is not a subset of a
    split bucket).
    """
    b = md5_bucket("doc_id", 100)
    shard = md5_bucket(
        F.concat(F.col("doc_id").cast("string"), F.lit("#shard")), n_shards
    )
    return docs.withColumn(
        "split",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
    ).withColumn("shard", shard)


def export_corpus(docs: DataFrame, out_dir: str, n_shards: int = 8) -> None:
    """Write ``split=<s>/shard=<k>/`` partitioned parquet."""
    assign_split_and_shard(docs, n_shards).write.partitionBy(
        "split", "shard"
    ).mode("overwrite").parquet(out_dir)
