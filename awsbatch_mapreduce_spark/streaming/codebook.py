"""Streaming semantic-novelty admission over the persisted adaptive
codebook (round 13): the real-time shape of the daily-append path.

A production ingestion pipeline at 100 TB does not batch a day and
re-run a job; new embeddings arrive continuously and each micro-batch
must be (a) checked against everything admitted so far and (b) become
part of "everything admitted so far" for the next batch.  Structured
Streaming's ``foreachBatch`` hands each micro-batch to the exact batch
operators the driver already proves:

- ``foreach_batch_codebook_probe`` — PROBE-ONLY: each micro-batch is
  quantized and pushed through ``index.probe.probe_current_generation``
  against the generation the pointer names at that batch (coarse
  broadcast assign, fine sort-merge assign, <= cap membership cosines).
  Because the probe is per-row independent given a fixed generation,
  the union of per-batch outputs is row-identical to the one-shot
  batch probe — the stream==batch pin.  Results land partitioned by
  ``batch_id`` with dynamic partition overwrite, so an at-least-once
  replay of a batch rewrites its own partition instead of duplicating
  rows (idempotent sink, the ``foreach_batch_upsert`` discipline).

- ``foreach_batch_codebook_admit_probe`` — PROBE-THEN-ADMIT into the
  generation a pointer record names: the micro-batch is first probed
  against the index AS OF all previously admitted batches (a vector
  never matches its own batch — batch self-dedup is a different
  operator), then admitted through
  ``index.generation.admit_batch`` (rank-chunked into NEW <= cap
  sub-cells, fine book + members bucket-APPENDED — the cap bound
  survives every admission by construction).  Admission mutates the
  index across several table-append job commits (fine, codes on a PQ
  generation, members), so replay safety needs more than an
  idempotent sink.  The round-13 watermark file alone left a crash
  window between the appends and the watermark write (ADVICE r13): a
  replay of that window would probe an index already containing the
  batch and re-admit it.  Round 14 closes the window with an
  INTENT/WATERMARK pair around the admission:

      probe -> write probe partition -> write INTENT(batch_id)
            -> append fine [-> append codes] -> append members
            -> write WATERMARK(batch_id) -> clear INTENT

  Both markers are atomic renames.  On entry, ``batch_id <=
  watermark`` is a committed replay (no-op), and a live INTENT for the
  incoming batch id means a previous attempt crashed INSIDE the
  admission window — the handler then runs
  ``index.generation.repair_admission`` before proceeding,
  ALL-OR-REPAIR (a FileOutputCommitter job commit is a sequence of
  renames, not one atomic step, so a crash mid-commitJob can leave a
  PARTIALLY visible members append): if ALL of the batch's rows are in
  the members table the admission had fully committed (the members
  append is the protocol's commit point), so the watermark
  fast-forwards and the batch is skipped; otherwise the partial member
  rows, the batch's codes and the orphaned fine rows are dropped,
  restoring the pre-admission state before the normal probe + admit
  re-runs.  Every repair rewrites via a crash-safe sibling-directory
  swap (``_swap_rewrite``): the live table stays intact until the
  swap, and the one window between the two renames fails LOUDLY
  (missing table location) rather than silently exposing a truncated
  table.  Every crash position therefore replays to the clean-run
  state or a loud error (test-pinned per window in
  ``tests/test_streaming_codebook.py``).  A real deployment replaces
  the marker files with a table format's transactional commit and the
  two appends with one MERGE; the protocol here is what plain-parquet
  tables can guarantee, stated exactly.

Scale shape per micro-batch: probe cost is the measured codebook probe
(coarse k0-row broadcast, growing sides sort-merge off their bucket
specs, REHEARSAL_r13.jsonl: slope 0.99/decade at 100x); admission cost
is O(|batch|) (measured at ~zero against the shared probe at both
sf0.1 and 100x).  Nothing in either body collects to the driver.

Stream==batch equivalence and the compositional pin against the
driver-proven ``semdedup_codebook_adaptive`` / ``_append`` registry
queries live in ``tests/test_streaming_codebook.py``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import _quantize
from awsbatch_mapreduce_spark.index.generation import (
    PointerRecord,
    admit_batch,
    generation_layout,
    live_view,
    read_pointer,
    repair_admission,
)
from awsbatch_mapreduce_spark.index.probe import probe, probe_current_generation


def _write_probe_partition(res: DataFrame, out_dir: str, batch_id: int) -> None:
    """Idempotent per-batch result write: dynamic partition overwrite
    on batch_id — a replayed batch rewrites its own partition."""
    (
        res.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def foreach_batch_codebook_probe(
    sf_dir: str, pointer_path: str, out_dir: str, adc: bool = False
) -> Callable[[DataFrame, int], None]:
    """Probe-only streaming novelty against WHATEVER index generation
    the pointer names — the zero-downtime reader side of the
    refit/cutover loop; per-batch results land under
    ``out_dir/batch_id=N``.  The pointer is re-resolved at each
    micro-batch boundary, so a `cutover_generation` landing mid-stream
    takes effect on the NEXT batch with no stream restart, and each
    individual batch probes exactly one generation
    (`probe_current_generation` resolves once at plan-build time; the
    superseded generation stays immutable until vacuumed, so a batch in
    flight during the cutover still reads a complete index).  A
    replayed batch re-resolves the pointer, so after a cutover its
    rewritten partition reflects the CURRENT generation — the
    at-least-once contract is "probed against the admitted corpus",
    which both generations of one refit satisfy (the refit is
    probe-equivalent by the ``semdedup_codebook_refit`` oracle proof).

    ``adc=True`` (round 16) serves each micro-batch through the
    generation's IVFPQ path instead (``probe_current_generation(adc=
    True)``: ADC over the bucketed codes, exact cosine on the
    top-rerank survivors), refusing loudly at the batch boundary if
    the pointer's generation carries no ``pq`` flag; because the
    pointer is re-resolved per batch, a cutover that dropped the flag
    surfaces as a failed batch, never a silent fallback to the
    full-vector membership join."""

    def probe_current(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new = batch_df.select(
            "vec_id", _quantize(F.col("embedding")).alias("vq")
        )
        res = probe_current_generation(
            batch_df.sparkSession, sf_dir, pointer_path, new, adc=adc
        )
        _write_probe_partition(res, out_dir, batch_id)

    return probe_current


# Admission sizing rule (round 14, SCALING.md): per-micro-batch cost
# on the measured local[32] host fits batch_sec ~ FLOOR + rows/MARGINAL
# with <7% residuals across 30k-570k-row batches; the fixed floor is
# per-batch planning/scheduling (~30 small jobs per admission) and does
# not shrink with batch size, so the TRIGGER INTERVAL is the valve: a
# 5 s trigger can never reach steady state (floor > trigger), while the
# rule's 30 s ceiling (20.0k vec/s predicted) measured 19.8k vec/s.
# Marginal cost inflates with refit-starved index growth (2.5x at 46x
# growth) — a refit (``index.generation.refit_and_cutover``) is the reset.
_BATCH_FLOOR_SEC = 6.0
_MARGINAL_VEC_PER_SEC = 25_000


def admission_max_rate(trigger_secs: float) -> float:
    """Max sustainable ingestion rate (vec/s) for a trigger interval
    under the measured per-batch cost model: each trigger of T seconds
    must process rate*T vectors in <= T, so
    ``rate <= (T - floor)/T * marginal``.  Returns 0.0 when the floor
    alone exceeds the trigger (no steady state exists).  The host-specific
    ``_BATCH_FLOOR_SEC`` / ``_MARGINAL_VEC_PER_SEC`` are the round-14
    local[32] fit; re-fit those module constants from
    ``scripts/codebook_stream_throughput.py``'s batches_rows_ms pairs
    for a different host or index size."""
    if trigger_secs <= _BATCH_FLOOR_SEC:
        return 0.0
    return (trigger_secs - _BATCH_FLOOR_SEC) / trigger_secs * _MARGINAL_VEC_PER_SEC


def min_trigger_secs(rate_vec_per_sec: float) -> float:
    """Inverse of ``admission_max_rate``: the smallest trigger interval
    that sustains ``rate_vec_per_sec``.  Raises ValueError at or past
    the marginal-throughput asymptote (no trigger can help there —
    that regime needs a faster host, a smaller index, or a refit)."""
    if rate_vec_per_sec >= _MARGINAL_VEC_PER_SEC:
        raise ValueError(
            f"rate {rate_vec_per_sec} >= marginal throughput"
            f" {_MARGINAL_VEC_PER_SEC} vec/s: unreachable at any trigger"
        )
    return _BATCH_FLOOR_SEC / (1.0 - rate_vec_per_sec / _MARGINAL_VEC_PER_SEC)


def refit_due(
    n_now: int, n_fit: int, tolerated_inflation: float = 2.0
) -> bool:
    """The refit CADENCE rule (round 14, measured by
    ``scripts/codebook_refit_reset.py``): the sizing rule's marginal
    constant holds for a RECENTLY-REFIT index; under continued
    admission the probe's fine-argmin degree is subs-per-coarse-cell
    ~ n/(k0*cap), and with k0 frozen at its fit-time value
    sqrt(n_fit/cap) the degree — and with it the per-vector marginal
    cost — scales like n_now/n_fit.  (Measured: ~21x marginal at 67x
    refit-starved growth, back to ~1x after the refit.)  So the refit
    is due when the corpus has grown past the tolerated inflation
    factor since the current generation was fitted:

        refit_due  <=>  n_now / n_fit > tolerated_inflation

    At a sustained admission rate R that means one refit every
    n_fit * (tolerated_inflation - 1) / R seconds — for the measured
    38 s refit at 71k members this prices well under one trigger
    interval of amortized cost per day at any rate the trigger rule
    admits.  ``n_fit`` is the members count at the last refit (the
    generation pointer's fit-time size); callers that track only the
    live members table can snapshot it at cutover."""
    if n_fit <= 0:
        raise ValueError(f"n_fit must be positive, got {n_fit}")
    if tolerated_inflation < 1.0:
        raise ValueError(
            f"tolerated_inflation must be >= 1.0, got {tolerated_inflation}"
        )
    return n_now / n_fit > tolerated_inflation


def recommend_nprobe(
    vec_recall_bp: int,
    current_nprobe: int,
    floor_bp: int,
    max_nprobe: int = 4,
) -> int:
    """The recall ACTUATOR (round 16, VERDICT r15 #3): turn a live
    recall snapshot into a knob step.  The supervisor measures
    per-generation vec-recall on live traffic (`_recall_snapshot`) and
    the offline sweep prices the surface (`codebook_recall_sweep_cap*`:
    ~+19 pts vec-recall per nprobe step at production caps, at a bounded ~1x-per-step probe
    constant and ZERO extra exchange); this rule connects them: a
    snapshot below ``floor_bp`` recommends one nprobe step, capped at
    ``max_nprobe`` (the sweep's measured range — beyond it the next
    lever is a cap re-fit, which the cadence rule already owns).  One
    step per snapshot, not a jump to max: each generation's snapshot
    re-measures before the next step, so the knob converges on the
    cheapest setting that clears the floor instead of overshooting to
    the most expensive one.  ``floor_bp <= 0`` disarms the actuator
    (measurement-only, the round-15 behavior)."""
    if floor_bp <= 0:
        return current_nprobe
    if vec_recall_bp < floor_bp and current_nprobe < max_nprobe:
        return current_nprobe + 1
    return current_nprobe


def _read_marker(path: str) -> int:
    try:
        with open(path) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def _write_marker(path: str, batch_id: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        fh.write(str(batch_id))
    os.replace(tmp, path)


def _replay_check(
    wm_path: str, intent_path: str, batch_df: DataFrame, batch_id: int
) -> bool | None:
    """The entry check of an exactly-once index mutation bracketed by an
    INTENT/WATERMARK marker pair (module docstring): None when the call
    is a no-op (a committed replay or an empty batch), True when a
    previous attempt at ``batch_id`` crashed inside the mutation window
    (the caller repairs before redoing it), False for a fresh batch.
    Clears a stale intent (a crash between the watermark write and the
    intent clear); refuses an intent pending for another batch."""
    wm = _read_marker(wm_path)
    if batch_id <= wm:
        return None  # committed replay: the mutation already ran
    intent = _read_marker(intent_path)
    if -1 < intent <= wm:
        os.remove(intent_path)
        intent = -1
    if intent != -1 and intent != batch_id:
        # the checkpoint contract redelivers the pending batch first, so
        # the checkpoint and the index dir disagree — refuse rather
        # than risk a double mutation
        raise RuntimeError(
            f"intent {intent_path!r} for batch {intent} is pending but"
            f" the stream delivered batch {batch_id}; the checkpoint does"
            " not match the index state — repair manually (restore the"
            " matching checkpoint, or undo the pending batch and remove"
            " the intent marker)"
        )
    if batch_df.isEmpty():
        return None
    return intent == batch_id


def foreach_batch_codebook_admit_probe(
    sf_dir: str, pointer_path: str, rec: PointerRecord, out_dir: str
) -> Callable[[DataFrame, int], int]:
    """Probe-then-admit streaming lifecycle over the generation ``rec``
    names (the pointer record read when the stream started): the
    micro-batch is probed against the index as of all PREVIOUSLY
    admitted batches, then admitted as new <= cap sub-cells.  The
    intent/watermark marker pair + the repair path make the
    multi-append index mutation replay-safe for a crash at ANY point
    (module docstring).

    The record binds the admission: its kind names the tables, a
    ``pq`` generation additionally gets the admitted members encoded
    against its persisted PQ codebook and their codes appended (order
    fine -> codes -> members; the members append stays the commit
    point, and the replay repair purges the batch's uncommitted codes
    rows alongside the orphan fine rows), and the rank-chunking runs at
    the generation's own capacity (``rec.fitted_cap``: the
    quality-triggered refit escalates it).

    The NOVELTY PROBE serves the live member set at the pointer's
    CURRENT serving width (``serving_nprobe``, re-read per batch like
    the pointer-following readers): the generation's tombstoned members
    stop matching the moment the deletion commits, and the tombstone
    read is serialized against the deletion verb.  The ADMISSION
    arithmetic is nprobe-independent (rank-chunking reads only the
    coarse assignment); only the reported novelty verdicts widen."""
    lay = generation_layout(sf_dir, rec.kind)
    watermark_path = os.path.join(out_dir, "_ADMITTED_WATERMARK")
    intent_path = os.path.join(out_dir, "_ADMIT_INTENT")

    def admit_probe(batch_df: DataFrame, batch_id: int) -> int:
        # returns the number of rows THIS call admitted (0 for a
        # replay no-op / empty batch / repair fast-forward), so the
        # supervisor's running cadence counter never re-counts the
        # micro-batch source (VERDICT r16 hygiene #3)
        crashed = _replay_check(
            watermark_path, intent_path, batch_df, batch_id
        )
        if crashed is None:
            return 0
        spark = batch_df.sparkSession
        new = batch_df.select(
            "vec_id", _quantize(F.col("embedding")).alias("vq")
        )
        if crashed and repair_admission(spark, new, lay, rec.pq):
            # a previous attempt crashed inside the admission window
            # AFTER its members append committed (repaired otherwise):
            # only the watermark is missing (the probe partition
            # committed before the intent did) — fast-forward and skip
            _write_marker(watermark_path, batch_id)
            os.remove(intent_path)
            return 0
        # probe FIRST (against previously admitted only), then admit;
        # the quantized frame has two consumers and admission must see
        # the pre-admission sub offsets -> localCheckpoint inside
        # admit_batch handles the offset snapshot, but `new` itself is
        # recomputed per consumer (cheap: one projection over the
        # micro-batch)
        #
        # the probe reads the live member set; the ADMISSION keeps the
        # raw members table — sub-cell offsets are physical-row
        # accounting and deleted members still occupy their slots
        # until the next refit
        probe_mem = live_view(
            spark, lay.members, lay.tombs, pointer_path=pointer_path
        )
        res = probe(
            spark, new, lay.coarse, lay.fine, probe_mem,
            nprobe=read_pointer(pointer_path).serving_nprobe,
        )
        _write_probe_partition(res, out_dir, batch_id)
        _write_marker(intent_path, batch_id)  # admission window opens
        n_admitted = admit_batch(
            spark, new, lay, cap=rec.fitted_cap, with_pq=rec.pq
        )
        _write_marker(watermark_path, batch_id)  # admission committed
        os.remove(intent_path)
        return n_admitted

    return admit_probe
