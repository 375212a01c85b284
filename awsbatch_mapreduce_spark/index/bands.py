"""The persisted MinHash band index: its table, its one writer, its
novelty probe and the verbs that gate or shrink it.

A band index is one catalog table of ``(doc_id, bk)`` rows, the row
format of ``operators.minhash.band_index_rows``, so batch-built and
stream-grown indexes are interchangeable.  This module is the only code
that knows how one is stored:

- **Layout** (``fresh_band_index``): per fixture, an external table
  ``{prefix}{tag}`` under the scratch dir, every stale ``{prefix}*``
  table dropped before a build.
- **Write spec** (``_N_BUCKETS``, ``_write_bands``): bucketed on ``bk``
  and sorted by it, so a probe's band join reads the growing index side
  with no exchange — only the new batch's bands shuffle.  Every create
  and every append repeats it (``create_band_index``, ``append_bands``).
- **Probe** (``probe_bands``): new bands against a seen index (the
  table, or an in-memory frame of the same rows) ->
  ``(doc_id, n_seen_nbrs, is_novel)`` over the caller's docs.
- **Verbs**: ``gate_batch`` (probe, then append the novel docs' bands:
  the admission step of the batch gate and of the stream),
  ``remove_docs_from_band_index`` (takedown) and ``_purge_batch_bands``
  (the replay repair), both through the crash-safe sibling swap of
  ``index.generation``.

Both join sides of the probe are data-scaled, so they are pinned
sort-merge (``never_broadcast``); collision volume per band key is
bounded by the band capacity argument of
``dedup_minhash_lsh_bucket_capped``.  This module imports no ``plans``
module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.generation import (
    _complete_pending_swap,
    _swap_rewrite,
)
from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.scratch import (
    _scratch_dir,
    _scratch_tag,
    drop_tables,
)

_N_BUCKETS = 16


def _write_bands(bands: DataFrame, tbl: str, path: str | None = None) -> None:
    """The one band write: create ``tbl`` at ``path`` holding ``bands``,
    or append ``bands`` to it when no path is given."""
    writer = bands.write.bucketBy(_N_BUCKETS, "bk").sortBy("bk")
    if path is None:
        writer.mode("append").saveAsTable(tbl)
    else:
        writer.option("path", path).mode("overwrite").saveAsTable(tbl)


def create_band_index(
    spark, base: str, tbl: str, rows: DataFrame | None = None
) -> None:
    """Create the band index ``tbl`` under ``base`` holding ``rows``
    (empty when None).  Idempotent: drops a prior same-name table
    first."""
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if rows is None:
        rows = spark.createDataFrame([], "doc_id bigint, bk string")
    _write_bands(rows, tbl, os.path.join(base, tbl))


def append_bands(bands: DataFrame, tbl: str) -> None:
    """Append ``bands`` to the band index ``tbl`` without touching its
    earlier rows."""
    _write_bands(bands, tbl)


def fresh_band_index(
    spark,
    sf_dir: str,
    scratch: str,
    prefix: str,
    rows: DataFrame | None = None,
) -> str:
    """A band index about to be (re)built for a fixture: every
    ``{prefix}*`` table dropped, then ``{prefix}{tag}`` created under the
    per-fixture ``scratch`` dir holding ``rows``.  Returns its name."""
    tbl = f"{prefix}{_scratch_tag(sf_dir)}"
    drop_tables(spark, prefix)
    create_band_index(spark, _scratch_dir(scratch, sf_dir), tbl, rows)
    return tbl


def probe_bands(
    spark, new_bands: DataFrame, seen: str | DataFrame, docs: DataFrame
) -> DataFrame:
    """The novelty probe: per ``docs`` row (one per doc_id),
    n_seen_nbrs = distinct seen docs sharing >= 1 band with it in
    ``new_bands``, is_novel = (n_seen_nbrs == 0).  ``seen`` is the
    index table's name or a frame of its (doc_id, bk) rows.  Docs with
    no bands fall out of the left join as novel.  Returns
    ``(doc_id, n_seen_nbrs, is_novel)``."""
    if isinstance(seen, str):
        seen = spark.table(seen)
    hits = (
        new_bands.join(
            never_broadcast(
                seen.select(F.col("doc_id").alias("seen_id"), "bk")
            ),
            "bk",
        )
        .select("doc_id", "seen_id")
        .distinct()
    )
    nn = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_seen_nbrs"))
    # nn is O(new batch): keep the membership join on the shuffle path
    return docs.join(
        never_broadcast(nn.withColumn("hit", F.lit(1))), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_seen_nbrs"), F.lit(0))
        .cast("bigint")
        .alias("n_seen_nbrs"),
        F.when(F.col("hit").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_novel"),
    )


def gate_batch(
    spark, band_tbl: str, docs: DataFrame, bands: DataFrame, batch_k: int
) -> DataFrame:
    """One admission step: batch ``batch_k``'s verdicts (doc_id,
    n_seen_nbrs, is_admitted, batch_k) against the band index, then the
    append of its admitted docs' ``bands``.  Docs too short to shingle
    carry no bands, hence no index footprint, and are admitted.  The
    verdicts are materialized before the append mutates the index the
    probe reads."""
    verdicts = (
        probe_bands(spark, bands, band_tbl, docs)
        .withColumnRenamed("is_novel", "is_admitted")
        .withColumn("batch_k", F.lit(batch_k).cast("bigint"))
        .localCheckpoint()
    )
    append_bands(
        bands.join(
            never_broadcast(
                verdicts.filter(F.col("is_admitted") == 1).select("doc_id")
            ),
            "doc_id",
            "semi",
        ),
        band_tbl,
    )
    return verdicts


def _purge_batch_bands(spark, batch_ids: DataFrame, band_tbl: str) -> int:
    """Drop every band row belonging to ``batch_ids``' docs via the
    crash-safe sibling swap; returns the number of band rows removed
    (0 short-circuits without a rewrite).  Two callers: the
    intent-marked replay repair of the stream (restore the pre-batch
    index — none/partial/all of the batch's bands may have landed
    before the crash) and the takedown verb below.  The zero-row probe
    is one bounded semi-join; the rewrite runs only when rows exist."""
    ids = batch_ids.select("doc_id")
    tbl = spark.table(band_tbl)
    n_in = tbl.join(F.broadcast(ids), "doc_id", "semi").count()
    if n_in == 0:
        return 0
    kept = tbl.join(F.broadcast(ids), "doc_id", "anti").localCheckpoint()
    _swap_rewrite(spark, band_tbl, kept)
    return n_in


def remove_docs_from_band_index(
    spark, band_tbl: str, ids: DataFrame
) -> int:
    """TAKEDOWN verb for the text band index (the deletion symmetry of
    ``index.generation.tombstone_members``): drop every band row of
    ``ids``' docs, so removed documents stop gating future admissions
    the moment the swap commits.  Returns the number of band rows
    removed; idempotent (a replayed removal finds zero rows and
    no-ops).  Crash-safe: the kept set is fully written to a
    ``__repair`` sibling before the two renames; a crash between them
    is completed by ``_complete_pending_swap`` at the next index
    mutation or removal.

    Semantics choice, documented: unlike the codebook (where deletion
    means "this vector must stop MATCHING"), removing a doc's bands
    means a FUTURE near-duplicate of the removed content becomes
    admissible again.  That is the right default for licensing/opt-out
    (the obligation is to stop HOLDING the content, not to remember it
    forever); a compliance regime that must keep rejecting the content
    should tombstone the doc_id in its verdict pipeline instead of
    removing the bands — both primitives now exist.

    The band index is SMALL next to the corpus (bands only, no text),
    so the anti-join rewrite is cheap; the broadcast side is the
    bounded removal request."""
    _complete_pending_swap(spark, band_tbl)
    return _purge_batch_bands(spark, ids, band_tbl)
