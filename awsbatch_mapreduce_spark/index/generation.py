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
- **Write spec** (``_write_part``): the one bucket/sort spec of the
  bucketed tables (fine on cell; members and codes on (cell, sub)),
  used by every build and every admission append.
- **Table-writing verbs**: ``build_generation`` (the one fit, from raw
  embeddings or from a members table's own rows, optionally with PQ
  codes), ``admit_batch`` (append a batch without a refit, in the
  order fine -> codes -> members) with ``repair_admission`` (undo an
  admission that crashed before its members commit), and
  ``refit_and_cutover`` (the guarded refit).
- **Lifecycle verbs**: ``cutover_generation`` (atomic repoint),
  ``set_generation_nprobe`` (serving knob), ``vacuum_generation``
  (reclaim a superseded generation), ``recover_generations`` (startup
  sweep of crash remnants), ``tombstone_members`` / ``live_view``
  (deletion), and the crash-safe sibling swap every in-place rewrite of
  an index table goes through (``_swap_rewrite``, which keeps the
  table's own bucket spec).

The arithmetic these verbs persist (fit, exact means, PQ) is
``index/codebook.py``; the probes are ``index/probe.py``.  Reference
parity: the reference swaps its whole output prefix per run
(`Implementation.cs:45-47` re-uploads jobData.json) rather than
patching in place — the pointer is that swap applied to the index.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.index.codebook import (
    _CAP,
    _encode_codes,
    _exact_means,
    _mod_centroid_init,
    _train_pq,
    assign_to_cells_collected,
    kmeans_fit,
    norm2,
)
from awsbatch_mapreduce_spark.scratch import (
    _scratch_dir,
    _scratch_path,
    _scratch_tag,
    _table_names,
    drop_tables,
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
    drop_tables(spark, *(_table_name(kind, part, "") for part in _PARTS))
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


# The generation tables' one write spec: the fine book bucketed on cell,
# members and codes on (cell, sub), all sorted by (cell, sub) into
# ``_N_BUCKETS`` buckets.  The probes' fine/members/codes joins read
# them exchange-free on it, and an admission's append must repeat it
# exactly.  coarse and pqcb are bounded and unbucketed.
_N_BUCKETS = 8
_BUCKET_COLS = {
    "fine": ("cell",),
    "members": ("cell", "sub"),
    "codes": ("cell", "sub"),
}


def _write_part(
    frame: DataFrame, lay: GenerationLayout, part: str, mode: str = "overwrite"
) -> None:
    """Write ``frame`` as generation table ``part`` under the write
    spec: a build (``overwrite``) places the data under ``lay.base``, an
    admission (``append``) adds files to the existing table.  One Spark
    job, so one FileOutputCommitter job commit."""
    tbl = getattr(lay, part)
    writer = frame.write
    if part in _BUCKET_COLS:
        writer = writer.bucketBy(_N_BUCKETS, *_BUCKET_COLS[part]).sortBy(
            "cell", "sub"
        )
    if mode == "overwrite":
        writer = writer.option("path", os.path.join(lay.base, tbl))
    writer.mode(mode).saveAsTable(tbl)


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

    @property
    def fitted_cap(self) -> int:
        """The fine-cell capacity the generation was fitted with — what
        admissions rank-chunk at and a refit inherits: the token, else
        the default every fit without one uses."""
        return self.cap if self.cap is not None else _CAP


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
# The fit: one verb for a first build and for a refit
# ---------------------------------------------------------------------------


def _fine_book(members: DataFrame) -> DataFrame:
    """A member frame's fine-book rows: the exact-mean centroid of each
    (cell, sub) chunk."""
    return _exact_means(
        members.select("cell", "sub", F.col("vq_s").alias("vq")), "cell", "sub"
    )


def members_corpus(spark, lay: GenerationLayout) -> DataFrame:
    """Generation ``lay``'s live members as a fit corpus (vec_id, vq):
    what a refit fits.  The members table alone — no raw-corpus re-read,
    its ``vq`` rows are ``_quantize(embedding)`` by construction — minus
    the tombstoned members, so k0 and every centroid of the new fit are
    computed as if they never existed (the anti-join broadcasts the
    bounded tombstone set; the members scan keeps its distribution)."""
    rows = spark.table(lay.members)
    if spark.catalog.tableExists(lay.tombs):
        rows = rows.join(
            F.broadcast(spark.table(lay.tombs)), "seen_id", "left_anti"
        )
    return rows.select(
        F.col("seen_id").alias("vec_id"), F.col("vq_s").alias("vq")
    )


def build_generation(
    spark, sf_dir, kind, seen, init_fn=None, cap: int = _CAP,
    with_pq: bool = False,
) -> GenerationLayout:
    """Fit and persist generation ``kind`` over ``seen``: a fresh layout
    (``fresh_layout`` drops the kind's previous tables), a 5-iteration
    Lloyd fit from ``init_fn``'s coarse init (default the adaptive
    mod-hash init at ``cap``), the rank-chunk capacity split, and the
    three tables — the k0-row coarse codebook, the fine codebook and
    the quantized members (write spec above).  With ``with_pq`` the
    members are also encoded into the codes + PQ-codebook tables.
    Returns the layout; making the generation current is the caller's
    explicit ``cutover_generation``.

    ``seen`` is raw (vec_id, embedding) rows, or quantized (vec_id, vq)
    rows — a refit's ``members_corpus``, which iterates on the identical
    integers (``kmeans_fit``).  ``cap`` is the fine-cell membership
    bound."""
    if init_fn is None:
        init_fn = functools.partial(_mod_centroid_init, cap=cap)
    lay = fresh_layout(spark, sf_dir, kind)
    vec = "vq" if "vq" in seen.columns else "embedding"
    assigned, _ = kmeans_fit(seen.select("vec_id", vec), init_fn(seen))
    # The chunk rank is over the final Lloyd assignment's own
    # (d_fp, vec_id) — integer fixed-point, so the split is
    # deterministic cross-engine.
    w_chunk = Window.partitionBy("cell").orderBy(F.asc("d_fp"), F.asc("vec_id"))
    members_plan = assigned.withColumn(
        "rn", F.row_number().over(w_chunk)
    ).select(
        F.col("vec_id").alias("seen_id"),
        F.col("cell").cast("int").alias("cell"),
        F.floor((F.col("rn") - 1) / F.lit(cap)).cast("int").alias("sub"),
        F.col("vq").alias("vq_s"),
        norm2("vq").alias("nn_s"),
    )
    # Overlap the independent build actions: the lifecycle's wall is
    # driver-serial job choreography, and all four actions read the
    # already-materialized fit (the last Lloyd collect populated
    # `assigned`'s cache).  Step A: coarse write || the split checkpoint
    # (one split, two consumers — fine book, members write).  Step B:
    # fine-book write || members write (both read the checkpoint;
    # different tables, so the catalog commits are independent).  Job
    # ordering never mattered here: the generation only becomes
    # readable at cutover, which verifies all tables exist.
    # Executor-loss caveat: the checkpoint lives in executor block
    # storage with no lineage back to the fit, so the fine-book and
    # members writes below cannot recompute a partition lost with its
    # executor — the build fails and must be re-run (the generation is
    # not current until cutover, so nothing reads the partial tables).
    with ThreadPoolExecutor(max_workers=1) as pool:
        coarse_f = pool.submit(
            _write_part, _exact_means(assigned, "cell"), lay, "coarse"
        )
        members_frame = members_plan.localCheckpoint()
        coarse_f.result()
    with ThreadPoolExecutor(max_workers=1) as pool:
        fine_f = pool.submit(_write_part, _fine_book(members_frame), lay, "fine")
        _write_part(members_frame, lay, "members")
        fine_f.result()
    assigned.unpersist()
    if with_pq:
        # the PQ codebook is trained from the members table just written
        # (so a refit's codes come from its own members too); one
        # codebook materialization feeds both the bounded pqcb write and
        # the corpus-scale encode, overlapped
        mem = spark.table(lay.members)
        pcb_ck = _train_pq(mem).localCheckpoint()
        with ThreadPoolExecutor(max_workers=1) as pool:
            pqcb_f = pool.submit(_write_part, pcb_ck, lay, "pqcb")
            _write_part(
                _encode_codes(mem.select("seen_id", "cell", "sub", "vq_s"), pcb_ck),
                lay,
                "codes",
            )
            pqcb_f.result()
    return lay


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
    measured by the recall sweep) and why it must never require the
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
# The guarded refit: a new generation from the current one's members,
# cut over only if the source did not move while it ran
# ---------------------------------------------------------------------------


def refit_and_cutover(
    spark,
    sf_dir: str,
    pointer_path: str,
    new_kind: str,
    cap: int | None = None,
    nprobe: int | None = None,
) -> str:
    """The guarded refit->cutover sequence: refit a fresh generation
    ``new_kind`` from the CURRENT generation's members table, then cut
    the pointer over — REFUSING the cutover if the source generation's
    members changed while the refit ran.

    Why the guard exists: the refit reads the members table once (its
    snapshot); an admission committed into the OLD generation after
    that snapshot exists ONLY in the old generation, so cutting over
    and vacuuming would silently drop it — the one data-loss window
    the pointer protocol otherwise closes.  The contract is therefore
    "quiesce admissions into the current generation for the duration"
    (for the streaming operator: stop the admit stream, run this,
    restart it bound to the new generation — exactly what the
    ``streaming.supervisor`` auto-refit loop does); this function turns
    a violated contract into a loud error instead of lost vectors.  The
    guard is checked TWICE: once after the refit (cheap refusal before
    any pointer motion) and once again AFTER the pointer swap — an
    admission landing between the first recount and the swap (the
    TOCTOU gap, ADVICE r14) is caught by the second check, which rolls
    the pointer back to the still-complete old generation and raises.
    Residual window: a hard crash exactly between the swap and the
    second recount leaves the pointer on the new generation while the
    old one holds unrefitted admissions — quiescing is still the
    contract; the guard is a best-effort backstop, not a license to
    admit concurrently.  On refusal the new generation is left on disk
    for inspection — re-run after quiescing; ``fresh_layout`` sweeps
    it on the retry.  Returns the previous generation's kind tag (the
    argument to a subsequent ``vacuum_generation``).

    The new generation inherits the current one's ``pq`` flag (round
    16, VERDICT r15 #1): a PQ generation's codes + PQ-codebook tables
    are rebuilt beside the new coarse/fine/members BEFORE the cutover,
    so an ADC reader resolving the pointer never sees a generation
    without its codes, and the supervisor's automatic refits keep
    whatever capability surface the generation had.

    ``cap``: the new generation's fine-cell capacity — None inherits
    the current generation's (``PointerRecord.fitted_cap``); the
    quality-triggered refit passes an ESCALATED cap, the growth-
    triggered one inherits.  The cap rides the pointer as a ``cap=N``
    token so admissions into the new generation rank-chunk at the cap
    it was fitted with.

    ``nprobe`` (round 17): the new generation's SERVING probe width —
    None inherits the current pointer's ``nprobe=N`` token (a routine
    refit must never silently reset production recall); the
    supervisor's quality-escalated refit passes 1 (single-probe),
    because the cap escalation structurally fixes what the nprobe
    steps were papering over (body comment)."""
    # one pointer snapshot: kind/n_fit/flags must be mutually consistent
    # (the same single-read discipline as probe_current_generation)
    cur = read_pointer(pointer_path)
    current = cur.kind
    if current is None:
        raise RuntimeError(
            f"no current generation under {pointer_path!r}: nothing to"
            " refit from — fit and cut over a first generation directly"
        )
    cur_cap = cur.fitted_cap
    # the serving nprobe is INHERITED by default (round 17): a routine
    # refit changes index structure, not the actuator-owned serving
    # knob — a generation swap must never silently reset production
    # recall.  An EXPLICIT ``nprobe`` overrides: the supervisor's
    # quality-escalated refit passes 1, because the cap escalation is
    # the STRUCTURAL fix for the recall the nprobe steps were papering
    # over — serving the escalated generation at the stopgap width
    # would pay max-nprobe x probe cost forever on an index that no
    # longer needs it (the next snapshot re-converges the knob from 1
    # if the new geometry still falls short).
    old_nprobe = cur.nprobe or None
    new_nprobe = nprobe if nprobe is not None else old_nprobe
    if cap is None:
        cap = cur_cap
    src = generation_layout(sf_dir, current)
    src_mem = src.members
    # refresh BEFORE the snapshot: streamed admissions commit through
    # the micro-batch's cloned session, so this session's cached file
    # listing can predate them — an unrefreshed refit would silently
    # fit the stale listing (the double-recount guard below caught
    # exactly this in the round-15 supervisor tests)
    spark.catalog.refreshTable(src_mem)
    n_snapshot = spark.table(src_mem).count()
    # DELETION propagates at refit (round 18, VERDICT r17 #2): the
    # current generation's tombstones (if any) are excluded from the
    # new fit, and the new generation starts with NO tombstone table —
    # the clear is structural.  The tombstone count joins the quiesce
    # guard below: a delete landing mid-refit would be cleared WITHOUT
    # being excluded (silent resurrection), so it refuses the cutover
    # exactly like a concurrent admission.
    tombs_tbl = src.tombs
    has_tombs = spark.catalog.tableExists(tombs_tbl)
    n_tombs_snapshot = (
        spark.table(tombs_tbl).count() if has_tombs else 0
    )
    # Codes + PQ codebook are per-generation artifacts, rebuilt from
    # the NEW generation's members before any pointer motion.
    new = build_generation(
        spark, sf_dir, new_kind, members_corpus(spark, src), cap=cap,
        with_pq=cur.pq,
    )
    # the NEW generation's fit-time size is the SURVIVOR count (what
    # it actually fitted) — the refit_due denominator must price the
    # fitted set, not the pre-deletion source
    n_fit_new = (
        spark.table(new.members).count() if has_tombs else n_snapshot
    )

    def _recount() -> tuple[int, int]:
        spark.catalog.refreshTable(src_mem)
        n_t = 0
        if spark.catalog.tableExists(tombs_tbl):
            spark.catalog.refreshTable(tombs_tbl)
            n_t = spark.table(tombs_tbl).count()
        return spark.table(src_mem).count(), n_t

    def _refuse(n_now: int, n_t_now: int) -> None:
        what = (
            f"grew from {n_snapshot} to {n_now} members"
            if n_now != n_snapshot
            else f"tombstones moved {n_tombs_snapshot} -> {n_t_now}"
        )
        raise RuntimeError(
            f"cutover to {new_kind!r} refused: generation {current!r}"
            f" {what} while the refit ran — those mutations exist only"
            " in the old generation and would be lost (or silently"
            " resurrected) at vacuum. Quiesce admissions and deletions"
            " into the current generation and re-run."
        )

    n_now, n_t_now = _recount()
    if n_now != n_snapshot or n_t_now != n_tombs_snapshot:
        _refuse(n_now, n_t_now)
    # the new generation's fit-time size IS what it fitted — record
    # it in the pointer's atomic write (the refit_due denominator)
    cutover_generation(
        spark, sf_dir, pointer_path, new_kind, n_fit=n_fit_new,
        with_pq=cur.pq, cap=cap, nprobe=new_nprobe,
    )
    n_after, n_t_after = _recount()
    if n_after != n_snapshot or n_t_after != n_tombs_snapshot:
        # an admission slipped into the old generation between the
        # first recount and the swap: roll the pointer back (the old
        # generation is intact — nothing vacuumed yet) and refuse.
        # The rollback restores the OLD generation's own nprobe, not
        # the override meant for the generation that never went live.
        cutover_generation(
            spark, sf_dir, pointer_path, current, n_fit=cur.n_fit,
            with_pq=cur.pq, cap=cur_cap, nprobe=old_nprobe,
        )
        _refuse(n_after, n_t_after)
    return current


# ---------------------------------------------------------------------------
# Crash-safe sibling swap: the in-place rewrite of an index table
# ---------------------------------------------------------------------------


def _table_desc(spark, tbl: str) -> dict[str, str]:
    """``DESC EXTENDED``'s rows as col_name -> data_type: the table's
    location and bucket spec, read from the catalog without a Spark
    job."""
    return {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESC EXTENDED {tbl}").collect()
    }


def _table_location(spark, tbl: str) -> str:
    return _table_desc(spark, tbl)["Location"].removeprefix("file:")


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


def _swap_rewrite(spark, tbl: str, kept: DataFrame) -> None:
    """Crash-safe rewrite of an external table with the kept rows,
    under the table's OWN bucket spec (read from ``DESC EXTENDED``, so
    a caller cannot re-bucket a table by mistake): write them to a
    SIBLING directory, then swap directories with two renames (a bare
    ``mode('overwrite')`` deletes the live files before the rewrite
    commits, so a crash mid-overwrite loses the whole table and the
    next replay silently proceeds against the truncated remainder).
    Crash positions here: before the first rename the live table is
    untouched (the replay simply redoes the repair); between the two
    renames the table's location is MISSING — and because Spark reads a
    missing location as an EMPTY table rather than an error, every
    repair entry point first runs ``_complete_pending_swap``, which
    re-issues the second rename from the fully-written ``__repair``
    sibling; after the second rename the repair is complete and the
    stale ``__old`` dir is swept on the next entry."""
    _complete_pending_swap(spark, tbl)
    desc = _table_desc(spark, tbl)
    location = desc["Location"].removeprefix("file:")
    repair_loc, old_loc = f"{location}__repair", f"{location}__old"
    # sweep leftovers of a previously crashed/completed repair
    shutil.rmtree(repair_loc, ignore_errors=True)
    shutil.rmtree(old_loc, ignore_errors=True)
    tmp_tbl = f"{tbl}__rp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    writer = kept.write
    if "Num Buckets" in desc:
        bucket_cols, sort_cols = (
            re.findall(r"`([^`]+)`", desc.get(row, ""))
            for row in ("Bucket Columns", "Sort Columns")
        )
        writer = writer.bucketBy(int(desc["Num Buckets"]), *bucket_cols)
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
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
# Admission: append a batch to a generation without a refit, and undo an
# admission that crashed before its commit point
# ---------------------------------------------------------------------------


def admit_batch(
    spark, batch: DataFrame, lay: GenerationLayout, cap: int = _CAP,
    with_pq: bool = False,
) -> int:
    """Admit one quantized batch (vec_id, vq) into generation ``lay``
    WITHOUT a refit: coarse-assign against the collected coarse
    codebook (d_fp is the chunk-rank key, exactly as the build ranked),
    rank-chunk within each coarse cell into NEW sub-cells of <= ``cap``
    offset past the cell's existing max sub, and bucket-APPEND the new
    chunks' exact-mean centroids to the fine book and the member rows
    to the members table.  Existing rows are untouched; the <= cap
    bound holds for the grown table by construction.  ``cap`` must be
    the generation's own (``PointerRecord.fitted_cap``).  Returns the
    admitted row count.

    The rank window is over the BATCH only (one row per admitted
    vector); the sub-offset frame is one row per coarse cell (k0-bounded,
    like the coarse book) -> broadcast.

    ``with_pq``: a PQ-carrying generation additionally encodes the
    admitted members against its PERSISTED codebook (broadcast, bounded
    — never retrained per batch) and appends their codes, so the ADC
    candidate set stays complete between refits.  Append order is
    fine -> codes -> members: the members append is the protocol's
    COMMIT POINT (if the batch's member rows are all visible, the codes
    landed before them), and ``repair_admission`` undoes anything short
    of it."""
    assigned_batch = assign_to_cells_collected(batch, spark.table(lay.coarse))
    w_chunk = Window.partitionBy("cell").orderBy(F.asc("d_fp"), F.asc("vec_id"))
    sub_offset = (
        spark.table(lay.members)
        .groupBy("cell")
        .agg((F.max("sub") + F.lit(1)).alias("base"))
    )
    app_members = (
        assigned_batch.withColumn("rn", F.row_number().over(w_chunk))
        .join(F.broadcast(sub_offset), "cell", "left")
        .select(
            F.col("vec_id").alias("seen_id"),
            F.col("cell").cast("int").alias("cell"),
            (
                F.coalesce(F.col("base"), F.lit(0))
                + F.floor((F.col("rn") - 1) / F.lit(cap))
            )
            .cast("int")
            .alias("sub"),
            F.col("vq").alias("vq_s"),
            norm2("vq").alias("nn_s"),
        )
        # materialize BEFORE the appends: the sub offset reads the
        # members table this step is about to grow, and the frame has
        # several append consumers — a lazy plan would recompute it
        # against the already-grown table (wrong offsets, doubled work)
        .localCheckpoint()
    )
    _write_part(_fine_book(app_members), lay, "fine", "append")
    if with_pq:
        _write_part(
            _encode_codes(
                app_members.select("seen_id", "cell", "sub", "vq_s"),
                spark.table(lay.pqcb),
            ),
            lay,
            "codes",
            "append",
        )
    _write_part(app_members, lay, "members", "append")
    # the admitted row count, from the already-materialized checkpoint
    # (one cached-partition pass, no source re-scan)
    return app_members.count()


def _drop_orphan_fine(spark, lay: GenerationLayout) -> None:
    """Drop fine rows whose (cell, sub) has no member rows.  Build and
    admission keep fine<->members 1:1 per (cell, sub) by construction,
    so an orphaned fine cell can only be the fine half of an
    uncommitted admission.  Rewrites the fine book only when an orphan
    actually exists — the zero-orphan probe is one semi-join over the
    k0-bounded book."""
    fine = spark.table(lay.fine)
    keys = spark.table(lay.members).select("cell", "sub").distinct()
    kept = fine.join(keys, ["cell", "sub"], "semi").localCheckpoint()
    if kept.count() == fine.count():
        return
    _swap_rewrite(spark, lay.fine, kept)


def repair_admission(
    spark, batch: DataFrame, lay: GenerationLayout, with_pq: bool = False
) -> bool:
    """Undo an ``admit_batch`` of ``batch`` (vec_id rows) that may have
    crashed part-way, ALL-OR-REPAIR; returns True when the admission had
    fully committed (nothing to undo).

    A members append is one FileOutputCommitter job commit, but that
    commit is itself a SEQUENCE of renames — a crash mid-commitJob
    leaves a PARTIALLY visible append — so only a complete id set in the
    members table proves commit.  Otherwise: a partial members append
    is purged (anti-join on the batch's bounded id set), the batch's
    codes rows are purged (they precede the members commit point, so
    none, some or all may have landed), and orphaned fine rows are
    dropped, restoring the pre-admission state.  Every rewrite is a
    crash-safe ``_swap_rewrite``, and a swap the previous repair crashed
    inside is completed FIRST (a missing table root reads as EMPTY,
    which would turn "partly landed" into a silent index truncation).
    The members and codes rewrites are corpus-sized, acceptable because
    they run only on the crash-replay path."""
    _complete_pending_swap(spark, lay.members)
    _complete_pending_swap(spark, lay.fine)
    if with_pq:
        _complete_pending_swap(spark, lay.codes)
    ids = batch.select(F.col("vec_id").alias("seen_id"))
    members = spark.table(lay.members)
    n_in = members.join(F.broadcast(ids), "seen_id", "semi").count()
    if n_in == batch.count():
        return True
    if n_in > 0:
        kept = members.join(F.broadcast(ids), "seen_id", "anti")
        _swap_rewrite(spark, lay.members, kept.localCheckpoint())
    if with_pq:
        codes = spark.table(lay.codes)
        if codes.join(F.broadcast(ids), "seen_id", "semi").count() > 0:
            kept = codes.join(F.broadcast(ids), "seen_id", "anti")
            _swap_rewrite(spark, lay.codes, kept.localCheckpoint())
    _drop_orphan_fine(spark, lay)
    return False


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
            _swap_rewrite(spark, lay.tombs, merged)
        return spark.table(lay.tombs).count()


def live_view(
    spark,
    tbl: str,
    tombs_tbl: str,
    suffix: str = "live",
    *,
    pointer_path: str,
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
    So the tombstone read happens under the write lock of the pointer
    at ``pointer_path`` (serialized against the verb), completes a
    crash-pending swap first, and is PINNED eagerly
    (``localCheckpoint`` of the bounded set) — the view's deletion set
    is a consistent snapshot immune to swaps that land after plan
    build."""
    if not spark.catalog.tableExists(tombs_tbl):
        return tbl
    with _pointer_write_lock(pointer_path):
        _complete_pending_swap(spark, tombs_tbl)
        spark.catalog.refreshTable(tombs_tbl)
        # eager pin of the bounded deletion set: the anti-join side is
        # block-storage-backed from here, immune to later swaps
        tombs = spark.table(tombs_tbl).localCheckpoint()
    live = spark.table(tbl).join(
        F.broadcast(tombs), "seen_id", "left_anti"
    )
    name = f"{tbl}__{suffix}"
    live.createOrReplaceTempView(name)
    return name
