"""The SELF-DRIVING refit loop (round 15, VERDICT r14 #1): a
supervisor that makes the index lifecycle run unattended —
quiesce -> refit -> cutover -> vacuum -> resume, triggered by the
measured cadence rule at micro-batch boundaries.

Round 14 built every primitive (the refit from members, the guarded
``refit_and_cutover``, ``vacuum_generation``, ``refit_due``) and
measured why the loop matters: the starvation A/B
(``scripts/codebook_refit_reset.py``, SCALING.md round-14) showed an
operator who skips the refit at 67x growth falls to ~1/20th of clean
admission capacity — processing slower than arrival, an UNSUSTAINABLE
stream.  But the sequence was manually ordered; forgetting it loses
the stream.  This module wires the cadence rule into the admission
loop itself.

Design — quiesce by construction, not by interruption:

1. The per-batch function is the round-14 intent/watermark admission
   (``foreach_batch_codebook_admit_probe``) bound to the pointer —
   the record the cycle read fixes kind, ``n_fit``, ``pq`` and
   ``cap``, and the serving width is re-read from the pointer per
   batch — plus a cadence check AFTER the batch fully commits:
   ``refit_due(n_now, n_fit)`` with ``n_fit`` from that record (it
   rides the pointer's atomic rename —
   ``index.generation.read_pointer``).  When due, the function writes a
   ``_REFIT_DUE`` marker and raises — terminating the stream at a
   batch boundary with everything committed.  Nothing can admit while
   the stream is down, so the refit_and_cutover quiesce contract holds
   BY CONSTRUCTION (its double-recount guard stays as the backstop).
2. The supervisor catches the termination, recognizes the marker,
   runs ``refit_and_cutover`` into the next generation (which records
   the new n_fit in the pointer atomically) then
   ``vacuum_generation`` on the superseded one, and restarts the
   stream — SAME checkpoint (batch ids continue; the engine redelivers
   the batch whose failure quiesced the stream, and the admission
   watermark makes that replay a no-op), same sink dir, new generation
   tables.
3. Crash recovery is positional, like the admission protocol: a crash
   DURING the refit leaves the pointer on the old generation and a
   half-built new one — the startup sweep vacuums every
   supervisor-prefixed generation the pointer does not name, and the
   first batch's cadence check re-signals the refit.  A crash AFTER
   cutover but BEFORE vacuum leaves a superseded generation — the same
   startup sweep reclaims it.  A crash between the marker write and
   the stream teardown replays into the watermark no-op and re-checks
   cadence against the (possibly already-refit) pointer.  Every
   position lands the supervisor back in a state it can drive forward
   (test-pinned in ``tests/test_supervisor.py``).

Scale shape: unchanged from the pinned admission/probe/refit plans —
the supervisor adds ONE members count() per micro-batch (a parquet
footer scan of the table the probe just read) and the refit cost the
cadence rule already prices (SCALING.md: one refit per
n_fit*(tolerated_inflation-1)/rate seconds; measured 38 s at 71k
members buying back ~4x throughput).

Reference parity: the reference re-runs its setup stage automatically
per job (`Implementation.cs:32-77` rebuilds and re-uploads
jobData.json on every run) rather than asking the operator to refresh
it — the index's "setup re-run" is equally automatic here.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import _CAP, _CAP_STEP, _quantize
from awsbatch_mapreduce_spark.index.generation import (
    PointerRecord,
    _complete_pending_swap,
    build_generation,
    cutover_generation,
    generation_layout,
    live_view,
    read_pointer,
    recover_generations,
    refit_and_cutover,
    set_generation_nprobe,
    vacuum_generation,
)
from awsbatch_mapreduce_spark.index.probe import (
    probe,
    probe_stats,
    score_recall,
    truth_totals,
)
from awsbatch_mapreduce_spark.streaming.codebook import (
    _read_marker,
    foreach_batch_codebook_admit_probe,
    recommend_nprobe,
    refit_due,
)

# The most refit cycles one supervised run drives.
_MAX_REFITS = 32


class RefitDueSignal(RuntimeError):
    """Raised by the cadence check AFTER a batch fully commits — the
    deterministic quiesce: the stream terminates at a batch boundary
    and the supervisor runs the refit cycle."""


def _marker_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_REFIT_DUE")


def _recall_snapshot(
    spark, new, coarse_tbl: str, fine_tbl: str, mem_tbl: str,
    panel: int, nprobe: int,
) -> dict:
    """Duplicate-recall of the LIVE probe on a bounded md5 sample of an
    incoming quantized batch, scored against brute-force integer-cosine
    truth over everything admitted so far — the per-generation QA read
    the recall-sweep queries provide offline, taken on live traffic
    right after each automatic refit.  Cost: one members-table scan per
    snapshot (the sample is a bounded broadcast, never data x data) —
    the sampled-schedule price every recall eval in the repo pays."""
    sample = (
        new.select("vec_id", "vq")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.asc("vec_id"))
        .limit(panel)
        .localCheckpoint()  # one bounded sample, probe + truth consumers
    )
    res = probe(spark, sample, coarse_tbl, fine_tbl, mem_tbl, nprobe=nprobe)
    truth = truth_totals(
        spark.table(mem_tbl).select(F.col("vq_s").alias("vqs")), sample
    )
    row = score_recall(probe_stats(res), truth).first()
    # an empty sample sums no detections: NULL -> 0
    return {
        "nprobe": nprobe,
        "panel": panel,
        **{k: v or 0 for k, v in row.asDict().items()},
    }


def admit_probe_with_cadence(
    sf_dir: str,
    pointer_path: str,
    rec: PointerRecord,
    out_dir: str,
    tolerated_inflation: float = 2.0,
    recall_panel: int = 0,
    recall_floor_bp: int = 0,
    recall_max_nprobe: int = 4,
    can_escalate_cap: bool = False,
    recall_every: int = 0,
    max_deleted_fraction: float = 0.0,
) -> Callable[[DataFrame, int], None]:
    """The supervised per-batch function: the round-14 replay-safe
    admission into the generation ``rec`` names, then the cadence
    check against ``rec.n_fit``.  The ``RefitDueSignal`` raise
    happens strictly AFTER the admission's watermark write, so the
    engine-side replay of this batch (its offset never committed) hits
    the watermark no-op on restart.

    The cadence count is O(1) per batch (round 16, VERDICT r15 #2):
    ONE authoritative members count per stream incarnation — taken
    after the FIRST batch's admission, so it also absorbs whatever the
    replay-repair path just landed — then a running counter n_now =
    n_authoritative + Σ admitted-batch rows (every fresh non-empty
    batch admits all its rows by construction).  The previous
    per-batch ``refreshTable + count()`` re-listed the members table's
    files every batch — a cost that grows with corpus metadata.  The
    full recount survives where it is load-bearing: as
    ``refit_and_cutover``'s double-recount guard.

    ``recall_panel > 0`` arms a ONE-SHOT recall snapshot: the first
    FRESH batch of this stream incarnation (replays are skipped via
    the admission watermark — a replayed batch is already in the
    members table and would self-match) is sampled and scored against
    brute-force truth BEFORE its admission, and the result appended to
    ``_RECALL_SNAPSHOTS.jsonl`` in the sink dir — the per-generation
    QA read of the just-cut-over index on live traffic.

    The record also binds the admission's codes appends (``rec.pq`` —
    the ADC candidate set stays complete between refits) and its
    rank-chunking capacity (``rec.fitted_cap``).

    ``can_escalate_cap`` arms the CAP side of the actuator (round 16):
    when the incarnation's recall snapshot lands below the floor AND
    the nprobe actuator cannot step further (already at
    ``recall_max_nprobe``), the cheap knob is exhausted — the next
    lever is a refit at a LARGER cap (the recall sweep's other axis).
    The closure then writes the ``_REFIT_DUE`` marker with reason
    ``recall`` and quiesces at the batch boundary exactly like the
    growth trigger; the supervisor reads the reason and refits at the
    escalated cap.  One quality signal per snapshot, so escalation is
    stepwise and re-measured per generation, never a jump to the
    maximum.

    The pointer closes the actuator's serving gap (round 17, VERDICT
    r16 #1): each snapshot probes at the pointer's serving width
    (``PointerRecord.serving_nprobe``, re-read per snapshot) — the
    exact configuration production probes serve — and a step
    recommendation is APPLIED to the pointer immediately
    (``set_generation_nprobe``, atomic rename, no stream restart, no
    refit), so every pointer-resolving reader serves the stepped width
    from its next resolution.

    ``recall_every > 0`` (round 17, VERDICT r16 #3) re-arms the
    snapshot every N further FRESH batches after the first — the
    one-shot snapshot left a long-lived generation unmeasured between
    refits, invisible recall degradation exactly when the growth
    trigger is quiet.  Each re-snapshot is the same panel-sized cost
    and feeds the same actuator, so a mid-generation degradation steps
    nprobe (or signals a quality refit) without waiting for growth.

    ``max_deleted_fraction > 0`` (round 18 follow-on) arms the THIRD
    refit trigger, ``deletions``: takedowns accumulate in the
    generation's tombstone table, and every probe pays the anti-join
    against that set while the members table keeps serving dead rows —
    structure the growth trigger cannot see (deletes never raise
    ``n_now``) and the recall trigger may never see (recall is scored
    over the LIVE set).  When tombstones exceed ``max_deleted_fraction
    * n_now`` the closure signals a refit, which compacts: the new fit
    EXCLUDES the tombstoned members and the new generation starts with
    no tombstone table (the clear is structural — the tombs table
    belongs to its generation's layout).  Cost: one count of the
    bounded-by-deletion-volume tombstone table per micro-batch, only
    while the knob is armed and the table exists; deletions land
    out-of-band from the stream, so no incremental counter can track
    them the way admitted rows track ``n_now``."""
    # the admission-time novelty probe serves the pointer's nprobe too
    # (round 17) — the last probe surface the actuator reaches
    inner = foreach_batch_codebook_admit_probe(
        sf_dir, pointer_path, rec, out_dir
    )
    lay = generation_layout(sf_dir, rec.kind)
    n_fit = rec.n_fit
    wm_path = os.path.join(out_dir, "_ADMITTED_WATERMARK")
    intent_path = os.path.join(out_dir, "_ADMIT_INTENT")
    snap_path = os.path.join(out_dir, "_RECALL_SNAPSHOTS.jsonl")
    measured: list[int] = []
    counter: dict[str, int | None] = {"n": None, "fresh_since_snap": 0}
    quality_breach: list[tuple[int, int]] = []  # (batch_id, nprobe@breach)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        wm_before = _read_marker(wm_path)
        if (
            recall_panel > 0
            and (
                not measured
                or (
                    recall_every > 0
                    and counter["fresh_since_snap"] >= recall_every
                )
            )
            and batch_id > wm_before
            # ADVICE r15: a live intent for THIS batch means a previous
            # attempt crashed inside the admission window — the members
            # table may hold the batch's own (partial) rows, so scoring
            # the snapshot now would self-match (cos 10000) and inflate
            # both truth and detected counts.  Let inner()'s repair run
            # first; the snapshot is taken on the NEXT fresh batch.
            and _read_marker(intent_path) != batch_id
            and not batch_df.isEmpty()
        ):
            measured.append(batch_id)
            counter["fresh_since_snap"] = 0
            # what production serves: a pointer with no token serves
            # single-probe, so the snapshot measures 1 there too
            cur_np = read_pointer(pointer_path).serving_nprobe
            new = batch_df.select(
                "vec_id", _quantize(F.col("embedding")).alias("vq")
            )
            # QA measures what production serves (round 18): the
            # snapshot's probe AND its brute-force truth both read the
            # LIVE member set when tombstones exist — recall over
            # deleted members is not a number anyone serves
            snap_mem = live_view(
                spark, lay.members, lay.tombs, pointer_path=pointer_path
            )
            snap = _recall_snapshot(
                spark, new, lay.coarse, lay.fine, snap_mem,
                recall_panel, cur_np,
            )
            # the actuator's read (VERDICT r15 #3): a snapshot below
            # the floor recommends one nprobe step, logged next to the
            # measurement and applied to the pointer below.  A
            # ZERO-TRUTH snapshot is NO-SIGNAL, not a breach (ADVICE
            # r16): _recall_snapshot reports vec_recall_bp=0 when the
            # sampled panel has no true duplicates, and duplicate-free
            # traffic must hold the current knobs, never step nprobe or
            # escalate cap on a recall number that measured nothing.
            if snap["n_truth_vecs"] == 0:
                snap["recommended_nprobe"] = cur_np
                snap["no_signal"] = True
            else:
                snap["recommended_nprobe"] = recommend_nprobe(
                    snap["vec_recall_bp"], cur_np, recall_floor_bp,
                    recall_max_nprobe,
                )
            if snap["recommended_nprobe"] != cur_np:
                # the actuator's step lands on the POINTER (round 17):
                # every serving probe resolves it from the next batch /
                # call on — the loop's output reaches production, not
                # just the next QA snapshot
                set_generation_nprobe(
                    pointer_path, snap["recommended_nprobe"]
                )
                snap["nprobe_applied"] = True
            if (
                can_escalate_cap
                and recall_floor_bp > 0
                and snap["n_truth_vecs"] > 0
                and snap["vec_recall_bp"] < recall_floor_bp
                and snap["recommended_nprobe"] == cur_np
            ):
                # below floor with the nprobe knob exhausted: signal a
                # quality refit AFTER this batch commits (the raise
                # happens post-admission, at the boundary)
                quality_breach.append((batch_id, cur_np))
                snap["cap_escalation_signalled"] = True
            os.makedirs(out_dir, exist_ok=True)  # first batch: the
            # probe-partition write has not created the sink dir yet
            with open(snap_path, "a") as fh:
                fh.write(json.dumps({"batch_id": batch_id, **snap}) + "\n")
        admitted = inner(batch_df, batch_id)
        if counter["n"] is None:
            # the one authoritative count of this incarnation: taken
            # AFTER the first batch's inner() so a replay repair (or
            # watermark fast-forward) is already folded in
            spark.catalog.refreshTable(lay.members)
            counter["n"] = spark.table(lay.members).count()
        else:
            # a fresh batch admits every row (the novelty flag reports,
            # it does not filter); the increment is inner()'s own
            # admitted count — already materialized by the admission's
            # checkpoint, never a re-count of the micro-batch source
            # (VERDICT r16 hygiene #3); replays/empties return 0
            counter["n"] += admitted or 0
        if (
            recall_panel > 0
            and recall_every > 0
            and batch_id > wm_before
            and not batch_df.isEmpty()
        ):
            counter["fresh_since_snap"] += 1
        n_now = counter["n"]

        def _signal(reason: str, detail: str, **extra) -> None:
            # the deletions trigger can fire on an EMPTY batch 0 (the
            # tombstones predate the stream; compaction need not wait
            # for fresh data), where the admission has not yet created
            # the sink dir — the growth/recall reasons structurally
            # cannot (both require admitted batches first)
            os.makedirs(out_dir, exist_ok=True)
            tmp = _marker_path(out_dir) + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(json.dumps({"batch_id": batch_id, "n_now": n_now,
                                     "n_fit": n_fit, "reason": reason,
                                     **extra}))
            os.replace(tmp, _marker_path(out_dir))
            raise RefitDueSignal(
                f"refit due after batch {batch_id}: {detail} — quiescing"
                " for automatic refit"
            )

        if refit_due(n_now, n_fit, tolerated_inflation):
            _signal(
                "growth",
                f"members {n_now} > {tolerated_inflation}x fit-time"
                f" {n_fit}",
            )
        if max_deleted_fraction > 0 and spark.catalog.tableExists(lay.tombs):
            # out-of-band takedowns: one count of the bounded tombstone
            # table (deletes cannot be folded into the running n_now
            # counter the way admitted rows are — they land between
            # batches, outside the stream)
            spark.catalog.refreshTable(lay.tombs)
            n_tombs = spark.table(lay.tombs).count()
            if n_tombs > max_deleted_fraction * n_now:
                _signal(
                    "deletions",
                    f"tombstones {n_tombs} > {max_deleted_fraction:g}x"
                    f" members {n_now} — compacting refit",
                    n_tombs=n_tombs,
                )
        if quality_breach:
            # report the width the snapshot ACTUALLY exhausted (ADVICE
            # r17: after pointer-applied steps the serving width is the
            # snapshot's cur_np, bounded by recall_max_nprobe)
            _, breach_np = quality_breach[-1]
            _signal(
                "recall",
                f"recall below floor {recall_floor_bp} bp with nprobe"
                f" exhausted at {breach_np}"
                f" (max {recall_max_nprobe}) — cap escalation",
            )

    return fn


def _next_kind(gen_prefix: str, current: str) -> str:
    """sup0003 -> sup0004; anything unparsable starts at 0001."""
    if current.startswith(gen_prefix):
        tail = current[len(gen_prefix):]
        if tail.isdigit():
            return f"{gen_prefix}{int(tail) + 1:04d}"
    return f"{gen_prefix}0001"


def bootstrap_generation(
    spark, sf_dir: str, pointer_path: str, seed, gen_prefix: str,
    with_pq: bool = False,
) -> str:
    """Fit generation ``{gen_prefix}0000`` over a raw (vec_id,
    embedding) seed corpus and cut the pointer over with its fit-time
    size — the supervisor's day-zero step.  ``with_pq`` additionally
    builds the generation's codes + PQ-codebook tables and records the
    ``pq`` flag, arming the ADC path (and every automatic refit
    inherits it).  The fit runs at the registered fixture cap, recorded
    on the pointer so admissions and quality escalations read it back;
    no ``nprobe`` token is written, so the generation serves
    single-probe."""
    kind = f"{gen_prefix}0000"
    lay = build_generation(spark, sf_dir, kind, seed, with_pq=with_pq)
    n_fit = spark.table(lay.members).count()
    cutover_generation(
        spark, sf_dir, pointer_path, kind, n_fit=n_fit, with_pq=with_pq,
        cap=_CAP,
    )
    return kind


def run_supervised_admission(
    spark,
    source_df: DataFrame,
    sf_dir: str,
    pointer_path: str,
    out_dir: str,
    ckpt_dir: str,
    *,
    trigger_secs: float | None = None,
    available_now: bool = False,
    tolerated_inflation: float = 2.0,
    gen_prefix: str = "sup",
    run_secs: float | None = None,
    await_secs: float = 600.0,
    recall_panel: int = 0,
    recall_floor_bp: int = 0,
    recall_max_nprobe: int = 4,
    recall_cap_max: int = 512,
    recall_every: int = 0,
    max_deleted_fraction: float = 0.0,
) -> dict:
    """Drive streaming admission with AUTOMATIC refits until the
    source drains (``available_now=True``), the wall budget
    ``run_secs`` expires, or ``_MAX_REFITS`` cycles have run.

    Per cycle: resolve the current generation + n_fit from the
    pointer, stream with the cadence-checking admission, and when the
    ``_REFIT_DUE`` marker appears run the guarded
    refit -> cutover -> vacuum sequence and resume on the new
    generation.  Returns a report dict: one ``segments`` entry per
    stream incarnation (generation kind, steady (rows, ms) pairs from
    the engine's progress log) and one ``refits`` entry per cycle
    (old/new kinds, refit wall seconds, n_fit before/after) — the
    load-test evidence that per-batch cost returns to the clean model
    after each reset.  ``recall_panel > 0`` additionally takes one
    recall snapshot per stream incarnation (the first fresh batch of
    each generation scored against brute-force truth — the QA read of
    every just-cut-over index on live traffic), returned under
    ``report["recall"]``.

    ``recall_floor_bp > 0`` ARMS the actuator (round 16, VERDICT r15
    #3): each snapshot below the floor recommends one nprobe step
    (``recommend_nprobe``, capped at ``recall_max_nprobe``), logged in
    the snapshot line as ``recommended_nprobe`` and APPLIED to the
    pointer's serving width — the loop that measured its own quality
    recovery (r15: 0.66 -> 0.84 -> 0.91 across refits) now steps its
    own knob when a generation lands below target.  When the nprobe
    knob is EXHAUSTED (already at max) and the snapshot is still below
    the floor, the supervisor escalates the OTHER axis the recall sweep
    priced: a quality-triggered refit at ``cap * _CAP_STEP``
    (bounded by ``recall_cap_max``), recorded in the refit entry as
    ``reason: recall`` with the old/new caps; the new cap rides the
    generation pointer so subsequent admissions rank-chunk at the
    capacity the index was fitted with, and the serving width resets
    to 1 (single-probe, what ``bootstrap_generation`` serves).  Every
    refit entry's ``nprobe_after`` is the post-refit pointer's
    ``serving_nprobe``.

    ``max_deleted_fraction > 0`` arms the deletions trigger (round 18
    follow-on): when a generation's tombstone count exceeds that
    fraction of its raw member rows, the cadence check signals reason
    ``deletions`` and the SAME refit machinery compacts — the new fit
    excludes the tombstoned members (``index.generation.refit_and_cutover``) and
    the new generation carries no tombstone table.  The refit entry
    records ``n_tombs`` and its ``n_fit_after`` is the pointer's
    post-refit read-back (the live count actually fitted), not the raw
    counter.

    The pointer is read ONCE per cycle (the single-snapshot discipline
    of ``read_pointer``): kind, n_fit, pq and cap of the incarnation
    all come from one record that binds the cycle's admission, and the
    post-refit read that fills the refit entry is the next cycle's
    record.  Only the serving width is re-read within a cycle, because
    the actuator steps it mid-incarnation."""
    report: dict = {"segments": [], "refits": [], "recovered": []}
    report["recovered"] = recover_generations(
        spark, sf_dir, pointer_path, gen_prefix
    )
    marker = _marker_path(out_dir)
    # a stale marker from a run that crashed between the marker write
    # and its refit would otherwise trigger one spurious refit at the
    # FIRST segment boundary; clearing it loses nothing — if the refit
    # is genuinely due, the first batch's cadence check re-signals
    if os.path.exists(marker):
        os.remove(marker)
    start_all = time.time()
    refits = 0
    snap_path = os.path.join(out_dir, "_RECALL_SNAPSHOTS.jsonl")
    rec = read_pointer(pointer_path)
    while True:
        kind, n_fit = rec.kind, rec.n_fit
        if kind is None:
            raise RuntimeError(
                f"no current generation under {pointer_path!r}: run"
                " bootstrap_generation (or an explicit fit + cutover)"
                " before supervising admission"
            )
        lay = generation_layout(sf_dir, kind)
        cur_cap = rec.fitted_cap
        if n_fit is None:
            # pre-round-15 pointer with no recorded fit-time size.  The
            # live count is NOT conservative (ADVICE r15): it resets the
            # inflation baseline to the already-grown corpus, deferring
            # the first refit by up to another tolerated_inflation
            # factor on an index that may already be past due.  That
            # deferral is accepted ONCE — the baseline is re-established
            # here and written back into the pointer (same atomic
            # rename), so it cannot silently repeat next incarnation.
            # ADVICE r16: this count runs BEFORE any repair batch, so a
            # prior crash inside a members _swap_rewrite would read the
            # missing table root as an EMPTY scan and permanently write
            # n_fit=0 into the pointer — complete-or-refuse first, the
            # same entry discipline as the repair paths
            _complete_pending_swap(spark, lay.members)
            n_fit = spark.table(lay.members).count()
            cutover_generation(
                spark, sf_dir, pointer_path, kind, n_fit=n_fit,
                # preserve capability flags: a pq-flagged pointer with
                # no n_fit (manual fit+cutover without a count) must
                # not lose its ADC path — or its fitted cap — in the
                # baseline rewrite.  nprobe= rides along too (ADVICE
                # r17 medium): a serving width set via
                # set_generation_nprobe after a manual fit+cutover must
                # survive this rewrite — a pointer rewrite never
                # silently resets production recall (the r17 invariant)
                with_pq=rec.pq,
                cap=cur_cap,
                nprobe=rec.nprobe or None,
            )
            rec = rec._replace(n_fit=n_fit)  # what was just written
        # a PQ-carrying generation admits WITH codes, so the ADC path
        # keeps serving a complete candidate set between refits; the
        # automatic refit below inherits the flag and rebuilds codes
        # per new generation
        fn = admit_probe_with_cadence(
            sf_dir,
            pointer_path,
            rec,
            out_dir,
            tolerated_inflation,
            recall_panel=recall_panel,
            recall_floor_bp=recall_floor_bp,
            recall_max_nprobe=recall_max_nprobe,
            can_escalate_cap=(
                recall_floor_bp > 0 and cur_cap < recall_cap_max
            ),
            recall_every=recall_every,
            # deletions against this generation reach the admission
            # probe + QA snapshot the moment they commit, the
            # segment-boundary refit excludes and clears them, and when
            # armed, enough of them TRIGGERS that refit
            max_deleted_fraction=max_deleted_fraction,
        )
        writer = source_df.writeStream.foreachBatch(fn).option(
            "checkpointLocation", ckpt_dir
        )
        writer = (
            writer.trigger(availableNow=True)
            if available_now
            else writer.trigger(processingTime=f"{trigger_secs} seconds")
        )
        q = writer.start()
        budget_stop = False
        deadline = time.time() + await_secs
        while True:
            try:
                if q.awaitTermination(2):
                    break
            except Exception:
                # the query terminated with an exception (the cadence
                # check's RefitDueSignal, or a real failure) — the
                # marker file distinguishes the two below
                break
            if run_secs is not None and time.time() - start_all > run_secs:
                q.stop()
                budget_stop = True
                break
            if time.time() > deadline:
                q.stop()
                budget_stop = True
                break
        progress = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress
        ]
        exc = q.exception()
        report["segments"].append(
            {
                "generation": kind,
                "n_fit": n_fit,
                "batches_rows_ms": [
                    [int(p["numInputRows"]), int(p["batchDuration"])]
                    for p in progress
                    if p.get("numInputRows", 0) > 0
                ],
            }
        )
        due = os.path.exists(marker)
        if due:
            with open(marker) as fh:
                due_info = json.loads(fh.read())
            os.remove(marker)
            if refits < _MAX_REFITS and not budget_stop:
                new_kind = _next_kind(gen_prefix, kind)
                reason = due_info.get("reason", "growth")
                # quality refits escalate the cap (the sweep's other
                # recall axis) AND reset the serving width to
                # single-probe (round 17): the escalation is the
                # STRUCTURAL fix for the recall the nprobe steps were
                # papering over — serving the escalated generation at
                # the stopgap width would pay max-nprobe x probe cost
                # forever; the next incarnation's snapshot re-converges
                # the knob from 1 if the new geometry still falls
                # short.  Growth and deletion refits inherit both knobs.
                quality = reason == "recall"
                t0 = time.perf_counter()
                old = refit_and_cutover(
                    spark, sf_dir, pointer_path, new_kind,
                    cap=(
                        min(cur_cap * _CAP_STEP, recall_cap_max)
                        if quality
                        else None
                    ),
                    nprobe=1 if quality else None,
                )
                refit_sec = round(time.perf_counter() - t0, 2)
                vacuum_generation(spark, sf_dir, pointer_path, old)
                rec = read_pointer(pointer_path)  # the next cycle's read
                entry = {
                    "old": old,
                    "new": new_kind,
                    "reason": reason,
                    "cap_before": cur_cap,
                    "cap_after": rec.fitted_cap,
                    "nprobe_after": rec.serving_nprobe,
                    "refit_sec": refit_sec,
                    "n_fit_before": n_fit,
                    "n_fit_after": due_info["n_now"],
                    "after_batch": due_info["batch_id"],
                }
                if reason == "deletions":
                    # a compacting refit fits FEWER members than the
                    # counter saw (the tombstoned rows are excluded):
                    # the counter's n_now is the raw row count, so the
                    # honest n_fit_after is the pointer's post-refit
                    # read-back — the live count refit_and_cutover
                    # actually fitted and recorded
                    entry["n_fit_after"] = rec.n_fit
                    entry["n_tombs"] = due_info.get("n_tombs")
                report["refits"].append(entry)
                refits += 1
                continue  # resume admission on the new generation
        if exc is not None and not due:
            raise RuntimeError(f"supervised admission failed: {exc}") from None
        if os.path.exists(snap_path):
            # dedupe by batch_id, last line wins (ADVICE r15: a crashed
            # incarnation could have appended a snapshot line for a
            # batch a replay then re-measured)
            by_batch: dict[int, dict] = {}
            with open(snap_path) as fh:
                for line in fh:
                    if line.strip():
                        snap = json.loads(line)
                        by_batch[snap["batch_id"]] = snap
            report["recall"] = [
                by_batch[k] for k in sorted(by_batch)
            ]
        return report
