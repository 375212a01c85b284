"""Streaming NEAR-DUP admission for TEXT (round 18, VERDICT r17
missing #2 / ask #3): the banded MinHash index (`operators/minhash.py`
format, `plans/wave9.py` persisted layout) composed with the
exactly-once admission machinery (`streaming/codebook.py` markers +
sibling-swap repairs).

Per micro-batch of (doc_id, text) documents:

1. SIGNATURE: shingle -> minhash -> band keys, the exact arithmetic of
   the whole dedup ladder (``operators.minhash.band_index_rows`` — one
   band space across batch and stream writers).
2. PROBE: the batch's bands join the PERSISTED band index (bucketed on
   ``bk`` — the growing seen side reads with NO exchange; only the
   day's bands shuffle, the ``lsh_band_index_lifecycle`` physical
   story).  Per doc: n_seen_nbrs = distinct previously-ADMITTED docs
   sharing >= 1 band, is_admitted = (n_seen_nbrs == 0).
3. GATE + ADMIT: only ADMITTED (novel) docs' bands are appended —
   near-dup rejection at the ingest boundary, the live pipeline's
   admission control (contrast the codebook admission, which admits
   everything and only REPORTS novelty: an embedding index must serve
   lookups for dups too; a text dedup gate exists to keep them out).

Exactly-once under crash-at-any-point, the codebook protocol verbatim:
an INTENT marker brackets the mutation window, a WATERMARK marker
records the last committed batch, and the replay of an intent-marked
batch first RESTORES the pre-batch index (purge the batch's band rows
via the crash-safe sibling swap) then redoes the deterministic
probe+gate+admit — so every crash timeline lands byte-identical to the
never-crashed one.  The probe partition write is idempotent (dynamic
partition overwrite on batch_id).

Batch-equivalence contract: with batches delivered in doc_id order,
the stream's verdicts and final index equal the driver-gated
``lsh_admission_gate`` query (plans/lsh_gate.py) over the same corpus
and boundaries — pinned in tests/test_streaming_lsh.py.  Both run one
gate step per batch, ``gate_batch``.

Scale shape at 100 TB: per batch one signature pass over the batch
(shingles never leave the map stage), one band join whose seen side is
bucket-pruned parquet, one bounded append.  Nothing rescans admitted
documents' text, the index grows by novel bands only, and the band
capacity argument (`dedup_minhash_lsh_bucket_capped`) bounds collision
fan-out per band key.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.generation import (
    _complete_pending_swap,
    _swap_rewrite,
)
from awsbatch_mapreduce_spark.operators.minhash import band_index_rows
from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.streaming.codebook import (
    _read_marker,
    _write_marker,
    _write_probe_partition,
)

# The persisted band index's bucket spec — MUST match
# ``lsh_band_index_lifecycle``'s writer (wave9) so batch-built and
# stream-grown indexes are interchangeable readers.
_N_BUCKETS = 16


def create_band_index(spark, base: str, tbl: str) -> None:
    """Create an EMPTY persisted band index (bucketed on ``bk``, the
    wave-9 layout) — the stream's day-zero step.  Idempotent: drops a
    prior same-name table first."""
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    empty = spark.createDataFrame([], "doc_id bigint, bk string")
    (
        empty.write.bucketBy(_N_BUCKETS, "bk")
        .sortBy("bk")
        .option("path", os.path.join(base, tbl))
        .mode("overwrite")
        .saveAsTable(tbl)
    )


def probe_band_index(spark, bands_new: DataFrame, band_tbl: str) -> DataFrame:
    """One batch's novelty verdicts against the persisted band index:
    (doc_id, n_seen_nbrs, is_admitted).  Both join sides are
    data-scaled -> pinned sort-merge (``never_broadcast``); the index
    side reads its bucket spec (no exchange)."""
    seen = spark.table(band_tbl).select(
        F.col("doc_id").alias("seen_id"), "bk"
    )
    hits = (
        bands_new.join(never_broadcast(seen), "bk")
        .select("doc_id", "seen_id")
        .distinct()
    )
    nn = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seen_nbrs")
    )
    docs = bands_new.select("doc_id").distinct()
    return docs.join(
        never_broadcast(nn.withColumn("hit", F.lit(1))), "doc_id", "left"
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.coalesce("n_seen_nbrs", F.lit(0)).cast("bigint").alias(
            "n_seen_nbrs"
        ),
        F.when(F.col("hit").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_admitted"),
    )


def _purge_batch_bands(spark, batch_ids: DataFrame, band_tbl: str) -> int:
    """Drop every band row belonging to ``batch_ids``' docs via the
    crash-safe sibling swap; returns the number of band rows removed
    (0 short-circuits without a rewrite).  Two callers: the
    intent-marked replay repair (restore the pre-batch index —
    none/partial/all of the batch's bands may have landed before the
    crash) and the public takedown verb below.  The zero-row probe is
    one bounded semi-join; the rewrite runs only when rows exist."""
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
    """TAKEDOWN verb for the text band index (round 18 — the deletion
    symmetry of ``index.generation.tombstone_members``): drop every
    band row of ``ids``' docs, so removed documents stop gating future
    admissions the moment the swap commits.  Returns the number of band rows
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


def gate_batch(
    spark, band_tbl: str, batch_docs: DataFrame, bands: DataFrame, batch_k: int
) -> DataFrame:
    """One gate step: batch ``batch_k``'s verdicts (doc_id, n_seen_nbrs,
    is_admitted, batch_k) against the band index, then the append of
    its admitted docs' ``bands``.  Docs too short to shingle carry no
    bands, hence no index footprint, but their verdict (novel,
    admitted) is still reported: they are the ``batch_docs`` the probe
    did not see.  The verdicts are materialized before the append
    mutates the index the probe reads."""
    banded = probe_band_index(spark, bands, band_tbl)
    bandless = batch_docs.join(
        never_broadcast(banded.select("doc_id")), "doc_id", "left_anti"
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lit(0).cast("bigint").alias("n_seen_nbrs"),
        F.lit(1).cast("bigint").alias("is_admitted"),
    )
    verdicts = (
        banded.unionByName(bandless)
        .withColumn("batch_k", F.lit(batch_k).cast("bigint"))
        .localCheckpoint()
    )
    admitted_bands = bands.join(
        never_broadcast(
            verdicts.filter(F.col("is_admitted") == 1).select("doc_id")
        ),
        "doc_id",
        "semi",
    )
    (
        admitted_bands.write.bucketBy(_N_BUCKETS, "bk")
        .sortBy("bk")
        .mode("append")
        .saveAsTable(band_tbl)
    )
    return verdicts


def foreach_batch_lsh_admit(
    band_tbl: str, out_dir: str
) -> Callable[[DataFrame, int], int]:
    """The gate (module docstring): probe-then-admit-if-novel over the
    persisted band index, replay-safe for a crash at ANY point.
    Returns per call the number of DOCS this call admitted (0 for
    replays/empties) — the cadence-counter contract the codebook
    admission established."""
    wm_path = os.path.join(out_dir, "_LSH_ADMIT_WATERMARK")
    intent_path = os.path.join(out_dir, "_LSH_ADMIT_INTENT")

    def admit(batch_df: DataFrame, batch_id: int) -> int:
        wm = _read_marker(wm_path)
        if batch_id <= wm:
            return 0  # committed replay: the gate already ran
        intent = _read_marker(intent_path)
        if -1 < intent <= wm:
            # stale intent of a batch whose watermark DID land (crash
            # between the watermark write and the intent clear)
            os.remove(intent_path)
            intent = -1
        if intent != -1 and intent != batch_id:
            raise RuntimeError(
                f"LSH admission intent for batch {intent} is pending but"
                f" the stream delivered batch {batch_id}; the checkpoint"
                f" does not match the index state under {out_dir!r} —"
                " repair manually"
            )
        if batch_df.isEmpty():
            return 0
        spark = batch_df.sparkSession
        if intent == batch_id:
            # a previous attempt crashed inside the admission window:
            # complete any half-swap FIRST (a missing table root reads
            # as an EMPTY scan — the silent-truncation trap), then
            # restore the pre-batch index; the redo below is
            # deterministic given that state
            _complete_pending_swap(spark, band_tbl)
            _purge_batch_bands(
                spark, batch_df.select("doc_id"), band_tbl
            )
        # signature once; two consumers (probe + admit append) — pin
        # the frame so the admit appends EXACTLY the bands the probe
        # scored (and never recomputes the shingle pass)
        bands_new = band_index_rows(
            batch_df.select("doc_id", "text")
        ).localCheckpoint()
        _write_marker(intent_path, batch_id)  # mutation window opens
        verdicts = gate_batch(
            spark, band_tbl, batch_df.select("doc_id"), bands_new, batch_id + 1
        )
        # the stream's verdicts are keyed by their batch_id partition
        _write_probe_partition(verdicts.drop("batch_k"), out_dir, batch_id)
        n_admitted = int(
            verdicts.filter(F.col("is_admitted") == 1).count()
        )
        _write_marker(wm_path, batch_id)  # gate committed
        os.remove(intent_path)
        return n_admitted

    return admit
