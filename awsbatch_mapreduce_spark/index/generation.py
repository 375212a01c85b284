"""The persisted index GENERATION: its storage format and the verbs
that move it through its lifecycle.

A generation is one immutable fit of the two-level codebook, named by a
short ``kind`` tag.  This module is the only place that knows how one
is stored:

- **Table layout** (``generation_layout``): per ``(sf_dir, kind)``, a
  scratch base dir holding up to six external tables —
  coarse/fine/members (the fit), codes/pqcb (the optional PQ path) and
  tombs (deletion requests against this generation).
- **Pointer file**: the path readers resolve to find the CURRENT
  generation.  One atomically-renamed file — line 1 the kind, line 2
  the fit-time members count (``n_fit``), line 3 the capability tokens
  (``pq``, ``cap=N``, ``nprobe=N``).  ``read_pointer`` is the one
  snapshot read, ``_write_pointer`` the one writer, both serialized
  against other writers by ``_pointer_write_lock``.
- **Lifecycle verbs**: ``cutover_generation`` (atomic repoint),
  ``set_generation_nprobe`` (serving knob), ``vacuum_generation``
  (reclaim a superseded generation), ``recover_generations`` (startup
  sweep of crash remnants), ``tombstone_members`` / ``live_view``
  (deletion), and the crash-safe sibling swap every in-place rewrite of
  an index table goes through.

The fit itself (``plans/wave11.build_generation``) and the refit live
with the codebook queries, the probes in ``index/probe.py``; they reach
the storage only through this module.  Reference parity: the reference swaps its whole output prefix
per run (`Implementation.cs:45-47` re-uploads jobData.json) rather than
patching in place — the pointer is that swap applied to the index.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.scratch import (
    _scratch_dir,
    _scratch_path,
    _scratch_tag,
    _table_names,
)

# ---------------------------------------------------------------------------
# Table layout
# ---------------------------------------------------------------------------

# The generation's tables, in build order — vacuum drops them in this
# order too, so a crash mid-vacuum leaves a suffix of the list (the
# tombstone table last), which ``recover_generations`` reclaims.
_PARTS = ("coarse", "fine", "members", "codes", "pqcb", "tombs")


def _table_name(kind: str, part: str, tag: str) -> str:
    return f"semdedup_{kind}_{part}_{tag}"


def _base_prefix(kind: str) -> str:
    return f"awsbatch_semdedup_{kind}_idx"


class GenerationLayout(NamedTuple):
    """Where generation ``kind`` of one fixture lives: the scratch base
    dir (every table's data sits in ``base/<table name>``) and its six
    table names.  codes/pqcb exist only on PQ-carrying generations and
    tombs only once a deletion landed."""

    base: str
    coarse: str
    fine: str
    members: str
    codes: str
    pqcb: str
    tombs: str

    @property
    def tables(self) -> tuple[str, ...]:
        return self[1:]


def generation_layout(sf_dir: str, kind: str) -> GenerationLayout:
    """The layout of a ``(sf_dir, kind)`` generation — names only, no
    file-system or catalog access, so readers may call it freely."""
    tag = _scratch_tag(sf_dir)
    return GenerationLayout(
        _scratch_path(_base_prefix(kind), sf_dir),
        *(_table_name(kind, part, tag) for part in _PARTS),
    )


def fresh_layout(spark, sf_dir: str, kind: str) -> GenerationLayout:
    """The layout of a generation about to be (re)built: drops the
    kind's tables under every fixture's tag (one mutable generation per
    kind, as every persisted-index query in the repo keeps), via one
    ``SHOW TABLES``.  Also sweeps abandoned scratch bases of the kind
    (``_scratch_dir``'s age-gated sibling sweep)."""
    _scratch_dir(_base_prefix(kind), sf_dir)
    prefixes = tuple(_table_name(kind, part, "") for part in _PARTS)
    for t in _table_names(spark):
        if t.startswith(prefixes):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    return generation_layout(sf_dir, kind)


def _kinds_present(spark, sf_dir: str) -> set[str]:
    """Kinds with at least one generation table under this fixture's
    tag — the inverse of ``_table_name``, over one ``SHOW TABLES``."""
    tag = re.escape(_scratch_tag(sf_dir))
    parts = "(?:" + "|".join(_PARTS) + ")"
    pattern = re.compile(_table_name("(?P<kind>.+)", parts, tag))
    return {
        m.group("kind")
        for m in map(pattern.fullmatch, _table_names(spark))
        if m
    }


# ---------------------------------------------------------------------------
# Pointer file
# ---------------------------------------------------------------------------


class PointerRecord(NamedTuple):
    """One snapshot of the pointer file; every field rides the same
    atomic rename as the kind, so no separate marker can reopen a crash
    window between them.  ``kind`` is None when no cutover has happened
    yet.  ``n_fit`` is the members count at fit/cutover time (the
    ``refit_due`` denominator; pointers written before round 15 carry
    none and callers fall back to a live count).  ``pq``: the
    generation carries codes + PQ-codebook tables, so ADC readers may
    serve from it.  ``cap``: the fine-cell capacity it was fitted with —
    admissions must rank-chunk at that cap to keep the <= cap bound
    (None = no token: the registered default).  ``nprobe``: the serving
    probe width the recall actuator set (None = no token)."""

    kind: str | None = None
    n_fit: int | None = None
    pq: bool = False
    cap: int | None = None
    nprobe: int | None = None

    @property
    def serving_nprobe(self) -> int:
        """The probe width every pointer-resolving reader serves:
        single-probe until the actuator writes a token."""
        return self.nprobe or 1


def read_pointer(pointer_path: str) -> PointerRecord:
    """ONE snapshot read of the pointer file.  The pointer is a single
    atomically-renamed file precisely so that every property of the
    current generation is consistent with every other; a reader that
    opens the file once per property (the ADC probe once read it twice)
    can pair one generation's kind with another's flags when a cutover
    lands between the opens — a spurious refusal or a
    missing-codes-table error.  A
    missing file or an empty kind line reads as no generation; an
    unparsable ``n_fit`` or token value reads as absent."""
    try:
        with open(pointer_path) as fh:
            lines = fh.read().splitlines()
    except OSError:
        return PointerRecord()
    kind = lines[0].strip() if lines else ""
    if not kind:
        return PointerRecord()
    try:
        n_fit = int(lines[1].strip())
    except (IndexError, ValueError):
        n_fit = None
    tokens = lines[2].split() if len(lines) >= 3 else []
    ints = {}
    for tok in tokens:
        name, _, value = tok.partition("=")
        try:
            ints[name] = int(value)
        except ValueError:
            pass
    return PointerRecord(
        kind, n_fit, "pq" in tokens, ints.get("cap"), ints.get("nprobe")
    )


def _write_pointer(pointer_path: str, rec: PointerRecord) -> None:
    """The one pointer writer (caller holds ``_pointer_write_lock``):
    write the record to the ``.tmp`` sibling, then rename it over the
    pointer.  A kind-only record stays a one-line file; ``n_fit`` may
    be an empty line when only tokens are recorded."""
    tokens = (
        (["pq"] if rec.pq else [])
        + ([f"cap={rec.cap}"] if rec.cap is not None else [])
        + ([f"nprobe={rec.nprobe}"] if rec.nprobe is not None else [])
    )
    lines = [rec.kind]
    if rec.n_fit is not None or tokens:
        lines.append("" if rec.n_fit is None else str(rec.n_fit))
    if tokens:
        lines.append(" ".join(tokens))
    tmp = f"{pointer_path}.tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
    os.replace(tmp, pointer_path)


@contextlib.contextmanager
def _pointer_write_lock(pointer_path: str):
    """Serialize pointer read-modify-write cycles: the rename is atomic
    but the RMW around it is not — two concurrent writers can lose an
    update (both read the same snapshot, last rename wins, the other's
    token vanishes) or collide on the fixed ``pointer_path + ".tmp"``
    sibling (one ``os.replace`` steals the other's tmp file ->
    FileNotFoundError).  Today the supervisor is the single writer, but
    that contract was implicit; an exclusive ``flock`` on a ``.lock``
    sibling makes it enforced instead of assumed, at the cost of one
    syscall per mutation (pointer writes are O(refits + actuator steps)
    per run — never hot).  Readers stay lock-free: they only ever open
    the complete, atomically-renamed pointer file."""
    import fcntl

    lock_path = f"{pointer_path}.lock"
    os.makedirs(os.path.dirname(lock_path) or ".", exist_ok=True)
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def fresh_pointer(sf_dir: str, scratch: str) -> str:
    """A pointer path under the ``scratch`` prefix's per-fixture dir
    with no current generation — the start of a lifecycle that must be
    rebuilt from scratch on every run (removing a stale pointer first
    keeps the vacuum refusal rule from tripping on a prior run's)."""
    pointer = os.path.join(
        _scratch_dir(scratch, sf_dir), "CURRENT_GENERATION"
    )
    if os.path.exists(pointer):
        os.remove(pointer)
    return pointer


# ---------------------------------------------------------------------------
# Lifecycle verbs.  A refit writes a NEW generation (distinct kind tag)
# and leaves the source generation untouched — that immutability is
# what makes the refit crash-safe, but it also means every refit
# doubles the index footprint until something (a) atomically repoints
# readers at the new generation and (b) reclaims the superseded one.
# At 100 TB the members table IS the corpus-scale artifact, so an
# unreclaimed generation is a corpus-sized storage leak per weekly
# refit.  The pointer uses the same atomic-rename marker discipline as
# the streaming admission's intent/watermark pair
# (`streaming/codebook.py`): readers resolve the pointer at probe start,
# so a probe sees the old generation or the new one, never a mix, and a
# crash between refit and cutover leaves the pointer on the still-intact
# old generation.
# ---------------------------------------------------------------------------


def cutover_generation(
    spark,
    sf_dir: str,
    pointer_path: str,
    kind: str,
    n_fit: int | None = None,
    with_pq: bool = False,
    cap: int | None = None,
    nprobe: int | None = None,
) -> str | None:
    """Atomically repoint readers at generation ``kind``: verify all
    tables of the target generation exist (a half-written generation
    must never become current), then rename-swap the pointer file.
    Returns the previous kind (None on first cutover).  The old
    generation's tables are left intact — reclaim is a separate,
    explicitly-ordered step (``vacuum_generation``), so a crash between
    cutover and vacuum costs storage, never correctness.  ``n_fit``
    (the generation's fit-time members count) is recorded in the same
    atomic write when given — the ``refit_due`` denominator the
    streaming supervisor reads back at stream start.  ``with_pq``
    (round 16) additionally verifies the generation's codes + PQ
    codebook tables and records the ``pq`` capability flag — the signal
    ``probe_current_generation(adc=True)`` reads before serving ADC.
    ``cap`` records the generation's fine-cell capacity — the
    quality-triggered refit escalates it, and the admission path must
    rank-chunk at the generation's own cap to preserve the <= cap
    bound.  ``nprobe`` (round 17) records the SERVING probe width — the
    knob the recall actuator steps (``set_generation_nprobe``) and
    every pointer-resolving probe honors."""
    lay = generation_layout(sf_dir, kind)
    required = [lay.coarse, lay.fine, lay.members]
    if with_pq:
        required += [lay.codes, lay.pqcb]
    missing = [t for t in required if not spark.catalog.tableExists(t)]
    if missing:
        raise RuntimeError(
            f"cutover to generation {kind!r} refused: tables {missing}"
            " do not exist (refit incomplete or not run)"
        )
    with _pointer_write_lock(pointer_path):
        prev = read_pointer(pointer_path).kind
        _write_pointer(
            pointer_path, PointerRecord(kind, n_fit, with_pq, cap, nprobe)
        )
    return prev


def set_generation_nprobe(pointer_path: str, nprobe: int) -> None:
    """The recall actuator's WRITE side (round 17):
    record ``nprobe`` on the current generation's pointer — same
    single-file atomic rename as every other pointer mutation, with the
    kind, n_fit, and every other token carried over from one snapshot
    read.  Takes effect on the NEXT pointer resolution: the next
    ``probe_current_generation`` call, the next micro-batch of a
    pointer-following stream (they re-resolve per batch), the next
    QA snapshot — no stream restart, no refit.  The knob is serving
    metadata, not index structure, which is why stepping it is the
    CHEAP recall lever (probe cost ~x nprobe, zero extra exchange,
    measured by the wave-14 sweep) and why it must never require the
    refit machinery."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    with _pointer_write_lock(pointer_path):
        rec = read_pointer(pointer_path)
        if rec.kind is None:
            raise RuntimeError(
                f"no current generation under {pointer_path!r}: nothing"
                " to set nprobe on — fit and cut over first"
            )
        _write_pointer(pointer_path, rec._replace(nprobe=nprobe))


def vacuum_generation(spark, sf_dir: str, pointer_path: str, kind: str) -> int:
    """Reclaim a superseded generation: drop its tables and delete its
    scratch base.  REFUSES to vacuum the generation the pointer
    currently names — the only state this function may destroy is one
    no reader can resolve anymore.  Returns the number of tables
    dropped (0 if the generation was already gone, making vacuum
    idempotent for a crash-replay of the reclaim step).  codes + pqcb
    (round 16) and the tombstone table (round 18) die with their
    generation: a generation without them simply has no such table."""
    if kind == read_pointer(pointer_path).kind:
        raise RuntimeError(
            f"vacuum of generation {kind!r} refused: it is the CURRENT"
            f" generation under {pointer_path!r} — cut over first"
        )
    lay = generation_layout(sf_dir, kind)
    dropped = 0
    for t in lay.tables:
        if spark.catalog.tableExists(t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            dropped += 1
    shutil.rmtree(lay.base, ignore_errors=True)
    return dropped


def recover_generations(
    spark, sf_dir: str, pointer_path: str, gen_prefix: str
) -> list[str]:
    """Startup sweep: vacuum every ``gen_prefix`` generation the pointer
    does NOT name.  Covers every crash position outside the admission
    protocol — a half-built generation from a crash mid-refit, a
    superseded one from a crash between cutover and vacuum, and the
    remnant of a crash mid-vacuum.  Any surviving table of a
    non-current generation marks its kind (a members-only key missed
    generations whose crash landed before the members write; the key
    is every ``_PARTS`` table, tombs included).
    ``vacuum_generation`` refuses the current generation by contract,
    so the sweep can never eat the live index.  Returns the vacuumed
    kinds."""
    current = read_pointer(pointer_path).kind
    kinds = {
        k for k in _kinds_present(spark, sf_dir)
        if k.startswith(gen_prefix) and k != current
    }
    return [
        k for k in sorted(kinds)
        if vacuum_generation(spark, sf_dir, pointer_path, k) > 0
    ]


# ---------------------------------------------------------------------------
# Crash-safe sibling swap: the in-place rewrite of an index table
# ---------------------------------------------------------------------------


def _table_location(spark, tbl: str) -> str:
    loc = (
        spark.sql(f"DESC EXTENDED {tbl}")
        .filter(F.col("col_name") == "Location")
        .first()["data_type"]
    )
    return loc.removeprefix("file:")


def _complete_pending_swap(spark, tbl: str) -> None:
    """Finish (or loudly refuse past) a ``_swap_rewrite`` that crashed
    between its two renames.  Spark's InMemoryFileIndex tolerates a
    missing root path and returns an EMPTY scan for a catalog table, so
    the mid-swap window is not self-announcing — a replay that reads the
    members table as empty would misclassify "nothing landed", rewrite
    the fine book to empty, and silently truncate the index.  The window
    is, however, always COMPLETABLE: the sibling ``__repair`` dir was
    fully written (its saveAsTable committed) before the first rename
    ran, so if the live location is missing and ``__repair`` exists, the
    second rename is simply re-issued.  A missing location with NO
    repair sibling is real corruption — raise rather than let an empty
    scan masquerade as an empty table.  Idempotent; called before every
    read-dependent repair decision and at ``_swap_rewrite`` entry (so a
    pending swap is never swept as a stale leftover)."""
    location = _table_location(spark, tbl)
    if os.path.isdir(location):
        return
    repair_loc, old_loc = f"{location}__repair", f"{location}__old"
    if not os.path.isdir(repair_loc):
        raise RuntimeError(
            f"table {tbl!r} location {location!r} is missing and no"
            " __repair sibling exists to complete the swap — refusing"
            " to read what Spark would surface as an empty table"
        )
    os.rename(repair_loc, location)
    shutil.rmtree(old_loc, ignore_errors=True)
    spark.catalog.refreshTable(tbl)


def _swap_rewrite(
    spark,
    tbl: str,
    kept: DataFrame,
    bucket_cols: list[str] | None,
    sort_cols: tuple[str, ...] = ("cell", "sub"),
    n_buckets: int = 8,
) -> None:
    """Crash-safe rewrite of a bucketed external table with the kept
    rows: write them to a SIBLING directory, then swap directories with
    two renames (a bare ``mode('overwrite')`` deletes the live files
    before the rewrite commits, so a crash mid-overwrite loses the whole
    table and the next replay silently proceeds against the truncated
    remainder).  Crash positions here: before the first rename the live
    table is untouched (the replay simply redoes the repair); between
    the two renames the table's location is MISSING — and because Spark
    reads a missing location as an EMPTY table rather than an error,
    every repair entry point first runs ``_complete_pending_swap``,
    which re-issues the second rename from the fully-written
    ``__repair`` sibling; after the second rename the repair is complete
    and the stale ``__old`` dir is swept on the next entry."""
    _complete_pending_swap(spark, tbl)
    location = _table_location(spark, tbl)
    repair_loc, old_loc = f"{location}__repair", f"{location}__old"
    # sweep leftovers of a previously crashed/completed repair
    shutil.rmtree(repair_loc, ignore_errors=True)
    shutil.rmtree(old_loc, ignore_errors=True)
    tmp_tbl = f"{tbl}__rp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    # ``bucket_cols=None`` rewrites an UNBUCKETED table (round 18: the
    # tombstone set and the LSH band index reuse this protocol);
    # ``sort_cols`` parameterizes the bucketed layout's sort key (the
    # codebook tables sort on (cell, sub), the band index on bk)
    writer = kept.write
    if bucket_cols:
        writer = writer.bucketBy(n_buckets, *bucket_cols).sortBy(*sort_cols)
    (
        writer.option("path", repair_loc)
        .mode("overwrite")
        .saveAsTable(tmp_tbl)
    )
    spark.sql(f"DROP TABLE {tmp_tbl}")  # external: files stay in place
    os.rename(location, old_loc)
    os.rename(repair_loc, location)  # same bucket spec, same file layout
    shutil.rmtree(old_loc, ignore_errors=True)
    spark.catalog.refreshTable(tbl)


# ---------------------------------------------------------------------------
# Tombstones: member deletion against the current generation.  One
# tombstone set per generation: it records deletions against THIS
# generation's member set and dies with the generation at vacuum (a
# refit excludes the tombstoned members, so the NEW generation starts
# with no tombstone table — the 'clear' is structural, not a separate
# mutation that could crash half-done).
# ---------------------------------------------------------------------------


def tombstone_members(
    spark, sf_dir: str, pointer_path: str, ids: DataFrame
) -> int:
    """Record deletion requests against the CURRENT generation: union
    ``ids`` (a ``seen_id`` column) into its tombstone table.  Returns
    the total tombstone count after the write.

    Exactly-once by IDEMPOTENCE: the table is a SET (distinct union),
    so replaying a delete changes nothing — byte-identical table, same
    return.  Crash-safe by the sibling-swap protocol: the merged set is
    fully written to a ``__repair`` sibling before two renames swap it
    live (``_swap_rewrite``); a crash between the renames is completed
    by ``_complete_pending_swap`` at the next entry — the same
    complete-or-refuse discipline as every other index mutation
    ([[spark-empty-scan-on-missing-root]]: a missing table root reads
    as EMPTY, so an un-repaired half-swap would silently resurrect
    every deleted member).

    Serialized against pointer writes via the pointer's own write lock:
    a cutover landing mid-delete could otherwise retarget the verb at a
    vacuumed generation."""
    with _pointer_write_lock(pointer_path):
        kind = read_pointer(pointer_path).kind
        if kind is None:
            raise RuntimeError(
                f"no current generation under {pointer_path!r}: nothing"
                " to delete from — fit and cut over first"
            )
        lay = generation_layout(sf_dir, kind)
        new_ids = ids.select(
            F.col("seen_id").cast("bigint").alias("seen_id")
        ).distinct()
        if not spark.catalog.tableExists(lay.tombs):
            # under the generation's scratch base, so vacuum's rmtree
            # reclaims it with the other tables
            loc = os.path.join(lay.base, lay.tombs)
            os.makedirs(os.path.dirname(loc), exist_ok=True)
            (
                new_ids.write.option("path", loc)
                .mode("overwrite")
                .saveAsTable(lay.tombs)
            )
        else:
            _complete_pending_swap(spark, lay.tombs)
            # Executor-loss caveat: a localCheckpoint lives in executor
            # block storage with no lineage back to the table, so the
            # rewrite below cannot recompute a partition lost with its
            # executor — the write fails (the live table is untouched
            # until the renames) and the delete must be re-issued.
            merged = (
                spark.table(lay.tombs)
                .unionByName(new_ids)
                .distinct()
                .localCheckpoint()
            )
            _swap_rewrite(spark, lay.tombs, merged, None)
        return spark.table(lay.tombs).count()


def live_view(
    spark,
    tbl: str,
    tombs_tbl: str | None,
    suffix: str = "live",
    pointer_path: str | None = None,
) -> str:
    """Register (and return the name of) a temp view of ``tbl`` (a
    generation's members or codes) minus tombstoned ``seen_id`` rows;
    ``tbl`` itself when no tombstones exist — the relation every
    SERVING path must read, so deletion reaches production the moment
    the tombstone write commits.  A deleted member must not occupy a
    top-rerank ADC candidate slot either (it would be dropped at the
    exact verify anyway, but its slot would shadow a live candidate),
    so the ADC path reads the live codes view too.  The anti-join
    broadcasts the tombstone side — bounded by deletion volume, small
    by nature — so the big side KEEPS its bucket distribution
    (broadcast joins preserve the streamed child's partitioning): the
    probes' (cell, sub) bucket joins still run with zero exchange on
    the members/codes side.

    Swap-safety (round-18 follow-on): a ``tombstone_members`` sibling
    swap leaves the table root MISSING for an instant, and Spark reads
    a missing root as an EMPTY scan — a probe built in that window
    would silently serve WITHOUT the deletions (the r15 trap class).
    When ``pointer_path`` is given, the tombstone read happens under
    the pointer write lock (serialized against the verb), completes a
    crash-pending swap first, and is PINNED eagerly
    (``localCheckpoint`` of the bounded set) — so the view's deletion
    set is a consistent snapshot immune to swaps that land after plan
    build.  Without a pointer the behavior degrades to the plain read
    (single-writer callers that own their lifecycle)."""
    if tombs_tbl is None or not spark.catalog.tableExists(tombs_tbl):
        return tbl

    def _tomb_frame():
        spark.catalog.refreshTable(tombs_tbl)
        # eager pin of the bounded deletion set: the anti-join side is
        # block-storage-backed from here, immune to later swaps
        return spark.table(tombs_tbl).localCheckpoint()

    if pointer_path is not None:
        with _pointer_write_lock(pointer_path):
            _complete_pending_swap(spark, tombs_tbl)
            tombs = _tomb_frame()
    else:
        tombs = _tomb_frame()
    live = spark.table(tbl).join(
        F.broadcast(tombs), "seen_id", "left_anti"
    )
    name = f"{tbl}__{suffix}"
    live.createOrReplaceTempView(name)
    return name
