"""Streaming NEAR-DUP admission for TEXT: the persisted MinHash band
index (``index/bands.py``) grown by an exactly-once micro-batch gate.

Per micro-batch of (doc_id, text) documents:

1. SIGNATURE: shingle -> minhash -> band keys, the exact arithmetic of
   the whole dedup ladder (``operators.minhash.band_index_rows`` — one
   band space across batch and stream writers).
2. GATE + ADMIT (``index.bands.gate_batch``): the batch's bands probe
   the band index of previously ADMITTED docs (bucketed on ``bk`` — the
   growing seen side reads with NO exchange; only the day's bands
   shuffle).  Per doc: n_seen_nbrs = distinct admitted docs sharing
   >= 1 band, is_admitted = (n_seen_nbrs == 0); only admitted docs'
   bands are appended — near-dup rejection at the ingest boundary
   (contrast the codebook admission, which admits everything and only
   REPORTS novelty: an embedding index must serve lookups for dups too;
   a text dedup gate exists to keep them out).

Exactly-once under crash-at-any-point, with the codebook admission's
marker pair (``streaming.codebook._replay_check``): an INTENT marker
brackets the mutation window, a WATERMARK marker records the last
committed batch, and the replay of an intent-marked batch first
RESTORES the pre-batch index (purge the batch's band rows via the
crash-safe sibling swap) then redoes the deterministic gate — so every
crash timeline lands byte-identical to the never-crashed one.  The
verdict partition write is idempotent (dynamic partition overwrite on
batch_id).

Batch-equivalence contract: with batches delivered in doc_id order,
the stream's verdicts and final index equal the driver-gated
``lsh_admission_gate`` query (plans/lsh_gate.py) over the same corpus
and boundaries — pinned in tests/test_streaming_lsh.py.  Both run one
``gate_batch`` per batch.

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

from awsbatch_mapreduce_spark.index.bands import _purge_batch_bands, gate_batch
from awsbatch_mapreduce_spark.index.generation import _complete_pending_swap
from awsbatch_mapreduce_spark.operators.minhash import band_index_rows
from awsbatch_mapreduce_spark.streaming.codebook import (
    _replay_check,
    _write_marker,
    _write_probe_partition,
)


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
        crashed = _replay_check(wm_path, intent_path, batch_df, batch_id)
        if crashed is None:
            return 0
        spark = batch_df.sparkSession
        if crashed:
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
