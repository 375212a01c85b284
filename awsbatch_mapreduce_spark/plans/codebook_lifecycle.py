"""The codebook index lifecycle as registered queries: each query is a
verb script that one runner interprets.

The index is the two-level semantic-dedup codebook of ``index/``
(FAISS-style IVF): a coarse Lloyd codebook, a fine level that chunks
each coarse cell's members into sub-cells of <= ``cap`` members (so the
membership check of a probe is bounded by construction, however skewed
the corpus), and the quantized members bucketed on (cell, sub).  The
adaptive fit sizes the coarse level at k0 = ceil(sqrt(ceil(n/cap))),
so both levels grow with the corpus and the per-probe work is
~2*sqrt(n/cap)*d + cap*d.  Optionally each member also carries PQ codes
(IVFPQ): the probe then ranks candidates by ADC over one-byte codes and
verifies only the top ``_PQ_RERANK`` against full vectors.

The lifecycle verbs, each one call into ``index.generation`` /
``index.probe``:

- ``Fit`` a generation over the seen half (vec_id <= mid);
- ``Cutover`` the generation pointer to it (recording its ``pq`` flag,
  and optionally its cap and serving nprobe), or ``SetNprobe`` on the
  live pointer — the recall actuator's write;
- ``Admit`` the (mid, q3] quarter in one or more batches, without a
  refit: new sub-cells past each cell's existing ones;
- ``Tombstone`` every ``_TOMB_MOD``-th member: serving masks them at
  once, the next refit excludes them;
- ``Refit`` from the current generation's live members alone (through
  the guarded ``refit_and_cutover`` when there is a pointer, optionally
  at an escalated cap), then ``Vacuum`` the superseded generation;
- ``Probe`` the ids past the index's high-water mark (mid, or q3 once a
  quarter was admitted) — through the pointer when the script cut
  over, else against the fitted tables — or ``RecallEval`` a bounded
  panel against brute-force truth.

Each oracle (``plans/codebook_oracle.py``) is the from-scratch program
the script's end state must equal, so the driver's value hash checks a
whole lifecycle at once: appends + refit against one clean fit of the
grown corpus, a probe through the pointer against the same fit probed
directly, a tombstone refit against a fit that never saw the deleted
vectors.

Reference parity: the reference repo (161-line pandas/datashader
pipeline, `local.py` / `Reduce.ps1`) has no dedup surface; the refit is
its own rhythm applied to the index — it rebuilds its work manifest
from scratch on every run (`Implementation.cs:35-47`) rather than
patching the previous one.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import (
    _CAP,
    _PQ_K,
    _PQ_SUB,
    _quantize,
    label_centroid_init,
)
from awsbatch_mapreduce_spark.index.generation import (
    admit_batch,
    build_generation,
    cutover_generation,
    fresh_pointer,
    members_corpus,
    refit_and_cutover,
    set_generation_nprobe,
    tombstone_members,
    vacuum_generation,
)
from awsbatch_mapreduce_spark.index.probe import (
    _PQ_RERANK,
    _SEMDEDUP_EPS_BP,
    probe,
    probe_current_generation,
    probe_stats,
    score_recall,
    truth_totals,
)
from awsbatch_mapreduce_spark.plans.codebook_oracle import (
    _ESCALATED_CAP,
    _GROWN_SRC,
    _MID_BOUNDARY,
    _NPROBE,
    _PANEL,
    _Q3_SQL,
    _SEEN_SRC,
    _SURVIVOR_SRC,
    _SWEEP_NPROBES,
    _TOMB_MOD,
    append_oracle,
    recall_eval_oracle,
    sweep_oracle,
    two_level,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# The verbs
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Fit:
    """Fit generation ``kind`` over the seen half; ``init`` None is the
    adaptive mod-hash init at ``cap``."""

    kind: str
    init: Callable | None = None
    cap: int = _CAP
    pq: bool = False


@dataclass(frozen=True)
class Cutover:
    """Point the script's pointer at the fitted generation."""

    cap: int | None = None
    nprobe: int | None = None


@dataclass(frozen=True)
class SetNprobe:
    """Step the live pointer's serving width to ``_NPROBE``."""


@dataclass(frozen=True)
class Admit:
    """Admit the (mid, q3] quarter in ``slices`` equal batches."""

    slices: int = 1


@dataclass(frozen=True)
class Tombstone:
    """Delete every ``_TOMB_MOD``-th member of the current generation."""


@dataclass(frozen=True)
class Refit:
    """Refit into generation ``kind``; ``cap`` None keeps the fitted cap."""

    kind: str
    cap: int | None = None


@dataclass(frozen=True)
class Vacuum:
    """Reclaim the generation the last refit superseded."""


@dataclass(frozen=True)
class Probe:
    """Probe the ids past the high-water mark; ``nprobe`` applies to a
    table probe (a pointer probe serves the pointer's width)."""

    nprobe: int = 1
    adc: bool = False


@dataclass(frozen=True)
class RecallEval:
    """Recall over a bounded panel against brute-force truth: the
    ``range`` (mid, mid + _PANEL] at nprobe 1 and ``_NPROBE``, keyed by
    variant, or the ``md5`` sample at each of ``_SWEEP_NPROBES``, keyed
    by (cap, nprobe)."""

    panel: str


def _vq_batch(emb: DataFrame, lo: int, hi: int | None = None) -> DataFrame:
    """The quantized (vec_id, vq) batch lo < vec_id [<= hi]."""
    cond = F.col("vec_id") > F.lit(lo)
    if hi is not None:
        cond = cond & (F.col("vec_id") <= F.lit(hi))
    return emb.filter(cond).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )


def _md5_panel(emb: DataFrame, mid: int) -> DataFrame:
    """The quantized (vec_id, vq) panel: top-``_PANEL`` of the new half
    in (md5(vec_id), vec_id) order — a global top-k
    (TakeOrderedAndProject: bounded output, no full sort lands
    anywhere), joined back broadcast to pick up the embeddings."""
    panel_ids = (
        emb.filter(F.col("vec_id") > F.lit(mid))
        .select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.asc("vec_id"))
        .limit(_PANEL)
    )
    return (
        emb.join(F.broadcast(panel_ids), "vec_id")
        .select("vec_id", _quantize(F.col("embedding")).alias("vq"))
        .localCheckpoint()  # one bounded panel, several probe consumers
    )


def run_lifecycle(
    spark: SparkSession, sf_dir: str, *script, pointer: str | None = None
) -> DataFrame:
    """Run ``script`` over the fixture's embeddings and return the frame
    of its final ``Probe`` / ``RecallEval``.  One bounds job gives mid =
    (MIN + MAX) // 2 and q3 = (mid + MAX) // 2 (the oracles' integer
    floor division, ids positive).  ``pointer`` names the scratch dir of
    a pointer the run rebuilds from scratch; a script with a pointer
    refits through the guarded cutover and probes through the pointer."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2
    q3 = (mid + b.hi) // 2
    ptr = fresh_pointer(sf_dir, pointer) if pointer else None
    edge, old, out = mid, None, None
    for verb in script:
        match verb:
            case Fit(kind, init, cap, pq):
                fit = verb
                lay = build_generation(
                    spark, sf_dir, kind, emb.filter(F.col("vec_id") <= F.lit(mid)),
                    init_fn=init, cap=cap, with_pq=pq,
                )
            case Cutover(cap, nprobe):
                cutover_generation(
                    spark, sf_dir, ptr, fit.kind, with_pq=fit.pq, cap=cap,
                    nprobe=nprobe,
                )
            case SetNprobe():
                set_generation_nprobe(ptr, _NPROBE)
            case Admit(slices):
                cuts = [mid + k * (q3 - mid) // slices for k in range(slices + 1)]
                for lo, hi in zip(cuts, cuts[1:]):
                    admit_batch(
                        spark, _vq_batch(emb, lo, hi), lay, cap=fit.cap,
                        with_pq=fit.pq,
                    )
                edge = q3
            case Tombstone():
                doomed = (
                    spark.table(lay.members)
                    .filter(F.pmod(F.col("seen_id"), F.lit(_TOMB_MOD)) == 0)
                    .select("seen_id")
                )
                tombstone_members(spark, sf_dir, ptr, doomed)
            case Refit(kind, cap) if ptr:
                old = refit_and_cutover(spark, sf_dir, ptr, kind, cap=cap)
            case Refit(kind, cap):
                lay = build_generation(
                    spark, sf_dir, kind, members_corpus(spark, lay),
                    cap=cap or fit.cap,
                )
            case Vacuum():
                vacuum_generation(spark, sf_dir, ptr, old)
            case Probe(nprobe, adc) if ptr:
                out = probe_current_generation(
                    spark, sf_dir, ptr, _vq_batch(emb, edge), adc=adc
                )
            case Probe(nprobe, adc):
                out = probe(
                    spark, _vq_batch(emb, edge), lay.coarse, lay.fine,
                    lay.members, nprobe=nprobe,
                    codes=lay.codes if adc else None,
                    pqcb=lay.pqcb if adc else None,
                )
            case RecallEval(panel):
                out = _recall(spark, emb, lay, mid, fit.cap, panel)
    return out


def _recall(spark, emb, lay, mid, cap, panel) -> DataFrame:
    """Probe stats per nprobe over one shared fit, scored against the
    brute-force truth of the bounded panel vs the seen half."""
    if panel == "md5":
        pnl, nprobes = _md5_panel(emb, mid), _SWEEP_NPROBES
        key = lambda n: F.lit(n).cast("bigint").alias("nprobe")  # noqa: E731
        out = (F.lit(cap).cast("bigint").alias("cap"), "nprobe")
    else:
        pnl, nprobes = _vq_batch(emb, mid, mid + _PANEL), (1, _NPROBE)
        key = lambda n: F.lit(f"nprobe{n}").alias("variant")  # noqa: E731
        out = ("variant",)
    stats = functools.reduce(DataFrame.unionByName, [
        probe_stats(
            probe(spark, pnl, lay.coarse, lay.fine, lay.members, nprobe=n),
            key(n),
        )
        for n in nprobes
    ])
    seen = emb.filter(F.col("vec_id") <= F.lit(mid))
    truth = truth_totals(seen.select(_quantize(F.col("embedding")).alias("vqs")), pnl)
    return score_recall(stats, truth, *out)


# ---------------------------------------------------------------------------
# Fit and probe: the capacity-bounded and the adaptive codebook
# ---------------------------------------------------------------------------


@query(
    "semdedup_codebook_capacity",
    oracle=two_level(_SEEN_SRC, _MID_BOUNDARY, label_init=True),
    wave=11,
)
def semdedup_codebook_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic novelty against a CAPACITY-BOUNDED persisted
    codebook (module docstring).  Build (amortized, once per corpus
    generation): the shared label-init Lloyd fit over the seen half,
    then each coarse cell's members ranked by (final distance, vec_id)
    and chunked into sub-cells of <= {cap}; persisted as three tables —
    the k0-row coarse codebook, the fine codebook (one exact-mean
    centroid per sub-cell; sum(ceil(cell/cap)) rows = fit-time
    k = ceil-grade n/cap), and the quantized members bucketed on
    (cell, sub).  Probe (per batch): coarse-assign via the broadcast
    coarse codebook, fine-assign via a SORT-MERGE join against the
    persisted fine codebook (it grows with the corpus — pinned
    ``never_broadcast``, unlike the bounded coarse book), then exact
    intra-sub-cell cosine against <= {cap} persisted members.  Output:
    one row per new vector — (coarse cell, fine sub, count of seen
    duplicates at cosine >= {eps} bp, max duplicate cosine, novelty
    flag).

    Zero seen-side recompute (test-pinned): the probe plan's seen side
    is parquet scans of the three persisted tables — no Lloyd
    iteration, no posexplode, no centroid arithmetic.  Members-per-
    fine-cell <= {cap} is guaranteed by construction and pinned as a
    data test; the membership join reads the bucketed members table
    with no exchange on the (large, growing) seen side.

    Determinism: the chunk rank orders by (integer fixed-point
    distance, vec_id) — both exact — and every centroid/cosine step is
    the wave-9/10 integer-quantized arithmetic, so the persisted path
    is oracle-exact against the unrolled seen-half Lloyd CTE plus the
    fine-split CTEs.
    """
    return run_lifecycle(spark, sf_dir, Fit("cap", label_centroid_init), Probe())


@query(
    "semdedup_codebook_adaptive",
    oracle=two_level(_SEEN_SRC, _MID_BOUNDARY),
    wave=11,
)
def semdedup_codebook_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refit policy the capacity variant documents, IMPLEMENTED:
    both levels of the persisted codebook grow with the corpus.  Coarse
    k0 = ceil(sqrt(ceil(n/cap))) at fit time (mod-hash init, Lloyd
    refined — 'the Lloyd CTE already parameterizes k'); fine level =
    the same <= {cap} rank-chunk split as ``semdedup_codebook_capacity``
    (the same ``Fit`` verb and the same ``_split_ctes`` oracle text).

    Why this is the asymptotic end state: per probe vector the work is
    k0 coarse distances + ~n/(k0*cap) fine distances + <= cap
    membership cosines; with k0 ~ sqrt(n/cap) the two growing terms
    balance at ~2*sqrt(n/cap)*d — total probe cost O(n^1.5), vs the
    label-coarse variant's O(n^2/(k0*cap)) residual (its measured 1.55
    second-decade ladder slope) and the fixed-k probe's O(n^2/k).  The
    fit pays n*k0 per Lloyd iteration — also sqrt-bounded — and the
    membership bound stays <= {cap} BY CONSTRUCTION exactly as in the
    capacity variant.  At 100 TB this is the fit-time policy a
    production pipeline re-runs per corpus generation; the persisted
    probe layout (coarse book broadcast, fine book + members
    sort-merge, members bucketed on (cell, sub)) is IDENTICAL.

    Output schema matches the capacity variant (vec_id, cell, sub,
    n_seen_dups at cosine >= {eps} bp, max_cos_bp, is_novel); cell ids
    are residue classes, so the two variants' rows are not
    row-comparable — each is oracle-exact against its own unrolled
    chain.
    """
    return run_lifecycle(spark, sf_dir, Fit("ada"), Probe())


# ---------------------------------------------------------------------------
# Admission and refit
# ---------------------------------------------------------------------------


@query(
    "semdedup_codebook_adaptive_append",
    oracle=append_oracle(),
    wave=12,
)
def semdedup_codebook_adaptive_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Append-batch novelty over the ADAPTIVE two-level codebook — the
    daily-append lifecycle on the layout the 10x/100x ladder graduated
    (module docstring).  Three phases over the vec_id thirds:

    1. BUILD (amortized): the adaptive fit over the seen third
       — coarse k0 = ceil(sqrt(ceil(n/cap))), rank-chunk capacity
       split, three persisted tables (``index.generation.build_generation``).
    2. APPEND (per batch, no refit): yesterday's batch is
       coarse-assigned via the BROADCAST coarse book, ranked within
       each coarse cell by (assign distance, vec_id) and chunked into
       NEW sub-cells of <= {cap} starting after the cell's existing
       max sub; the new chunks' exact-mean centroids are
       bucket-APPENDED to the fine codebook and the member rows to the
       members table (bucket specs match the build's, so the grown
       index still joins exchange-free).  Existing rows are untouched:
       the append shuffles |batch|-derived rows only, and the <= {cap}
       bound holds for the GROWN members table by construction
       (test-pinned).
    3. PROBE (per batch): today's batch probes the GROWN index through
       the shared two-level ``index.probe.probe`` — coarse broadcast
       assign, fine sort-merge assign, exact cosine against <= {cap}
       members of the assigned fine cell.

    Zero seen-side recompute (test-pinned): after the build, neither
    the append nor the probe plan contains a Lloyd iteration or any
    scan of seen embeddings — only the three persisted tables and the
    day's batches move.  At 100 TB this is the admission path between
    codebook refits; the refit itself (recompute k0 over the grown
    corpus) is ``semdedup_codebook_refit`` on this same layout.

    Output: one row per probe vector — (vec_id, coarse cell, fine sub,
    count of seen-or-appended duplicates at cosine >= {eps} bp, max
    duplicate cosine, novelty flag).  Oracle-exact against the unrolled
    adaptive Lloyd chain + append + grown-probe CTE program.
    """
    return run_lifecycle(spark, sf_dir, Fit("app"), Admit(), Probe())


@query(
    "semdedup_codebook_refit",
    oracle=two_level(_GROWN_SRC, _Q3_SQL),
    wave=13,
)
def semdedup_codebook_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index lifecycle ending in a REFIT (module docstring):
    build the adaptive codebook over the seen half, admit three append
    generations (each growing the fine book past ceil-grade), refit —
    recompute k0 = ceil(sqrt(ceil(n/cap))) over the grown corpus and
    rebuild coarse/fine/members as a fresh generation from the members
    table alone — then probe today's batch against the refitted index.

    Output: the standard codebook-probe row per probe vector (vec_id,
    coarse cell, fine sub, count of seen duplicates at cosine >= eps,
    max duplicate cosine, novelty flag).  Oracle = the from-scratch
    adaptive program over the grown corpus, so the driver's value hash
    IS the probe-equivalence proof: append generations + refit must
    land the index exactly where one clean fit would have.
    """
    return run_lifecycle(
        spark, sf_dir, Fit("rfa"), Admit(3), Refit("rft"), Probe()
    )


# ---------------------------------------------------------------------------
# MULTI-PROBE: the production recall knob of every IVF-shaped index
# (FAISS `nprobe`).  The single-probe novelty check misses duplicates
# that straddle a coarse-cell boundary; probing the TWO nearest coarse
# cells checks the union of two fine cells' members instead of one, a
# bounded 2x probe constant for the boundary recall.  The reported
# (cell, sub) is the PRIMARY (rank-1) assignment, so the variants' rows
# differ only in the dup columns (the superset property is testable).
#
# RECALL EVAL: per probed vector of a BOUNDED panel, brute-force
# integer-cosine truth (the probes' own fixed-point arithmetic, so truth
# and probe can only disagree on which pairs the index made visible)
# against the probe programs over ONE shared fit — how an operator
# re-tunes nprobe/cap from measurements.  The panel is 256 wide: at 64
# the recall quantum was ~150-300 bp per boundary vector, too coarse to
# rank adjacent knob settings.  The sweep measures the 3 caps x 3
# nprobes surface over an md5-sampled panel of the same width.
# ---------------------------------------------------------------------------


@query(
    "semdedup_codebook_multiprobe",
    oracle=two_level(_SEEN_SRC, _MID_BOUNDARY, nprobe=_NPROBE),
    wave=13,
)
def semdedup_codebook_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic novelty against the adaptive two-level codebook probed
    at nprobe={nprobe} — the boundary-recall knob (section comment).
    Build: the identical adaptive fit as `semdedup_codebook_adaptive`
    (k0 = ceil(sqrt(ceil(n/cap))) mod-init Lloyd, <= {cap} rank-chunk
    split, three persisted tables).  Probe: each new vector is checked
    against the members of its TWO nearest coarse cells' assigned fine
    cells — duplicates straddling the rank-1 cell boundary, invisible
    to the single-probe variant by construction, are found at a fixed
    2x probe constant.

    Output schema matches the single-probe variants: (vec_id, PRIMARY
    cell, PRIMARY sub, n_seen_dups at cosine >= {eps} bp over the
    probed union, max_cos_bp, is_novel).  Superset property (pinned in
    tests/test_wave13.py): every rank-1 hit survives, so n_seen_dups
    >= the single-probe count and is_novel <= its flag, row for row.

    Reference parity: the reference repo (161-line pandas/datashader
    pipeline, `local.py` / `Reduce.ps1`) has no dedup surface; this
    extends the LLM-pipeline operator family the build brief makes
    first-class, mirroring FAISS's nprobe on the same persisted layout.
    """
    return run_lifecycle(spark, sf_dir, Fit("mp2"), Probe(nprobe=_NPROBE))


@query(
    "semdedup_codebook_recall_eval",
    oracle=recall_eval_oracle(),
    wave=13,
)
def semdedup_codebook_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-recall of the codebook probes vs brute-force truth
    over a bounded {panel}-vector panel (section comment) — ONE adaptive
    fit, probed at nprobe=1 and nprobe={nprobe}, scored against the
    exact integer-cosine pair set.  Output: one row per variant with
    (n_truth_vecs, n_truth_pairs, n_detected_vecs, n_detected_pairs,
    vec_recall_bp, pair_recall_bp) — the numbers an operator reads
    before choosing nprobe (measured r14 on the full new half: 0.35 ->
    0.54 vec-recall at the fixture's deliberately tight cap=16).

    Scale shape: the probes are the already-pinned two-level plans; the
    truth join crosses the BOUNDED panel (broadcast, a literal id
    range) against the seen half — one brute-force scan per panel
    vector, the sampled-schedule QA cost every recall eval in the repo
    pays (`ann_recall_eval`, `minhash_lsh_eval`), never data x data.
    Zero false positives by construction (the membership check is an
    exact cosine), so recall is the only number that can move.
    """
    return run_lifecycle(
        spark, sf_dir, Fit("rce"), RecallEval("range")
    )


_SWEEP_DOC = """Recall/cost surface of the two-level codebook at
    cap={cap}, probed at nprobe in {nprobes} over one shared adaptive
    fit (module docstring): one row per nprobe with the exact-truth
    recall numbers an operator reads before choosing the knobs —
    (cap, nprobe, n_truth_vecs, n_truth_pairs, n_detected_vecs,
    n_detected_pairs, vec_recall_bp, pair_recall_bp).  The panel is
    the md5-top-{panel} of the new half (engine-stable fixed-size
    unbiased sample, bounded by a literal LIMIT).  Zero false
    positives by construction (the membership check is an exact
    cosine), so detection is monotone in nprobe: the rank<=r hit set
    nests.  The three cap variants together give the 3x3
    recall-vs-cost surface recorded in SCALING.md round-15."""


def _register_sweep(cap: int, kind: str):
    @query(
        f"codebook_recall_sweep_cap{cap}",
        oracle=sweep_oracle(cap),
        wave=15,
    )
    def sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_lifecycle(
            spark, sf_dir, Fit(kind, cap=cap), RecallEval("md5")
        )

    sweep.__name__ = f"codebook_recall_sweep_cap{cap}"
    sweep.__doc__ = _SWEEP_DOC.format(
        cap=cap, nprobes=_SWEEP_NPROBES, panel=_PANEL
    )
    return sweep


codebook_recall_sweep_cap16 = _register_sweep(16, "sw16")
codebook_recall_sweep_cap64 = _register_sweep(64, "sw64")
codebook_recall_sweep_cap512 = _register_sweep(512, "sw512")


@query(
    "codebook_pq_rerank_probe",
    oracle=two_level(_SEEN_SRC, _MID_BOUNDARY, adc=True),
    wave=15,
)
def codebook_pq_rerank_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ-style semantic novelty on the adaptive two-level codebook
    (module docstring): the fit is `semdedup_codebook_adaptive`'s
    (identical seen half, init, and capacity split), PLUS a persisted
    PQ codes table — every member encoded as {sub} one-byte codes
    against a {k}-entry-per-subspace codebook trained from the members'
    own quantized components.  Probe: coarse+fine assignment as usual,
    ADC over the assigned cell's CODES (full vectors never enter the
    membership join — the ~64x members-bandwidth cut IVFPQ exists for),
    exact integer cosine against only the top-{rerank} ADC candidates.

    Output schema matches the probe family (vec_id, cell, sub,
    n_seen_dups, max_cos_bp, is_novel); dup counts are capped at
    {rerank} by construction and every flagged dup is exact (the
    verdict cosine is computed on full vectors), so the PQ stage can
    only LOSE duplicates vs the full probe, never invent them —
    subset-of-adaptive pinned row-for-row in tests/test_wave14.py with
    the measured recall cost next to it.
    """
    return run_lifecycle(spark, sf_dir, Fit("pqm", pq=True), Probe(adc=True))


# ---------------------------------------------------------------------------
# The operational path: through the generation pointer
# ---------------------------------------------------------------------------


@query(
    "codebook_pointer_lifecycle",
    oracle=two_level(_GROWN_SRC, _Q3_SQL),
    wave=15,
)
def codebook_pointer_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPERATIONAL pointer path, driver-gated (VERDICT r14 #4):
    fit generation A over the seen half -> cutover (pointer names A)
    -> admit yesterday's batch into A -> guarded ``refit_and_cutover``
    into generation B (refit-from-members, double recount, atomic
    pointer swap) -> vacuum A (the superseded generation's three
    tables + data dir reclaimed) -> probe today's batch THROUGH the
    pointer (``probe_current_generation``).

    Oracle: the refit oracle verbatim — a from-scratch
    adaptive fit over the grown corpus probed at the same boundary —
    so the driver's value hash proves the full operational sequence
    (pointer indirection, guarded cutover, vacuum) lands a reader on
    exactly the index one clean fit would have produced.  The
    refit query proves the refit ARITHMETIC; this one proves the
    OPERATIONS around it: a reader that only ever resolves the pointer
    survives the whole generation swap, and the old generation is
    reclaimed without touching what the reader sees.

    Idempotent per run: the pointer file and both generations are
    rebuilt from scratch (``fresh_pointer``)."""
    return run_lifecycle(
        spark, sf_dir, Fit("pla"), Cutover(), Admit(), Refit("plb"), Vacuum(),
        Probe(), pointer="awsbatch_semdedup_ptrlc",
    )


@query(
    "codebook_pointer_lifecycle_adc",
    oracle=two_level(_GROWN_SRC, _Q3_SQL, adc=True),
    wave=16,
)
def codebook_pointer_lifecycle_adc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The OPERATIONAL ADC path, driver-gated (module docstring):
    fit generation A over the seen half WITH its PQ codes -> cutover
    (pointer names A, ``pq`` flag set) -> admit yesterday's batch into
    A with codes appended in the same intent window -> guarded
    ``refit_and_cutover`` into generation B (flag inherited, codes
    rebuilt from B's members before the pointer moves) -> vacuum A
    (coarse/fine/members/codes/pqcb all reclaimed) -> ADC-probe
    today's batch THROUGH the pointer
    (``probe_current_generation(adc=True)``).

    Output schema matches the probe family (vec_id, cell, sub,
    n_seen_dups, max_cos_bp, is_novel), dup counts capped at the
    rerank depth and every flagged dup exact — the PQ probe's
    contract, now served through the generation pointer.  Oracle: a
    from-scratch fit + encode over the grown corpus, so the driver's
    value hash proves the whole operational sequence (codes-carrying
    cutover, admission-time codes append, inherited refit, vacuum)
    lands an ADC reader on exactly what one clean build would serve.

    Idempotent per run: the pointer file and both generations are
    rebuilt from scratch (``fresh_pointer``)."""
    return run_lifecycle(
        spark, sf_dir, Fit("qla", pq=True), Cutover(), Admit(), Refit("qlb"),
        Vacuum(), Probe(adc=True), pointer="awsbatch_semdedup_ptradc",
    )


@query(
    "codebook_quality_refit_lifecycle",
    oracle=two_level(_GROWN_SRC, _Q3_SQL, cap=_ESCALATED_CAP),
    wave=16,
)
def codebook_quality_refit_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quality-triggered CAP-ESCALATION refit, driver-gated: fit
    generation A at cap={cap0} -> cutover (the
    pointer records ``cap={cap0}``) -> admit yesterday's batch
    rank-chunked at the GENERATION'S cap (the <= cap bound invariant)
    -> guarded ``refit_and_cutover`` at
    cap={cap1} (the escalation the supervisor performs on a
    below-floor snapshot with nprobe exhausted; the new cap rides the
    pointer's atomic rename) -> vacuum A -> probe today's batch
    through the pointer.

    Oracle: a from-scratch adaptive fit over the grown corpus AT
    cap={cap1} probed at the same boundary — the driver's value hash
    proves the escalated refit-from-members lands the index exactly
    where one clean fit at the new cap would have: the escalation is
    a metadata decision plus the refit already scheduled, never a
    corpus re-read.

    Idempotent per run: pointer + both generations rebuilt from
    scratch."""
    return run_lifecycle(
        spark, sf_dir, Fit("qra"), Cutover(cap=_CAP), Admit(),
        Refit("qrb", _ESCALATED_CAP), Vacuum(), Probe(),
        pointer="awsbatch_semdedup_ptrqr",
    )


@query(
    "codebook_pointer_nprobe_serving",
    oracle=two_level(_SEEN_SRC, _MID_BOUNDARY, nprobe=_NPROBE),
    wave=17,
)
def codebook_pointer_nprobe_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The actuator's step REACHES the serving probe, driver-gated:
    fit generation A over the seen half -> cutover
    (pointer names A, NO nprobe token — the pre-step state every
    pointer starts in) -> ``set_generation_nprobe(pointer, {nprobe})``,
    the recall actuator's own write (one atomic rename, no refit, no
    stream restart) -> probe the new half THROUGH THE POINTER.

    Oracle: the multiprobe oracle verbatim — the identical
    adaptive fit probed at nprobe={nprobe} — so the driver's value
    hash proves the pointer-resolved serving probe runs the REAL
    rank-{nprobe} program after the step, not the single-probe plan
    the pre-round-17 readers were stuck on.  (The boundary-straddling
    duplicates only rank 2 can see make the two programs' outputs
    differ on this fixture — the recall-eval queries measure exactly
    that gap — so a serving path that ignored the token could not
    hash-match.)

    Idempotent per run: pointer + generation rebuilt from scratch."""
    return run_lifecycle(
        spark, sf_dir, Fit("nps"), Cutover(), SetNprobe(), Probe(),
        pointer="awsbatch_semdedup_ptrnps",
    )


@query(
    "codebook_pointer_adc_multiprobe",
    oracle=two_level(_SEEN_SRC, _MID_BOUNDARY, nprobe=_NPROBE, adc=True),
    wave=17,
)
def codebook_pointer_adc_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ADC serving path at nprobe={nprobe} THROUGH the pointer,
    driver-gated: fit generation A over the seen
    half WITH its PQ codes -> cutover recording BOTH capability tokens
    (``pq`` and ``nprobe={nprobe}``) in one atomic rename -> ADC-probe
    the new half through ``probe_current_generation(adc=True)``, which
    resolves kind/flags/nprobe from ONE pointer snapshot and runs the
    two-stage PQ probe over the UNION of each vector's {nprobe} nearest
    coarse cells' assigned fine cells.

    Output schema matches the probe family (vec_id, PRIMARY cell,
    PRIMARY sub, n_seen_dups, max_cos_bp, is_novel); dup counts stay
    capped at the rerank depth {rerank} — the top-rerank cut is over
    the UNION, so widening nprobe widens the candidate pool the exact
    verify chooses from, never the verify cost.  Oracle: the identical
    adaptive fit + PQ codebook + rank-{nprobe} ADC program unrolled in
    SQL, so the driver's value hash proves the pointer-resolved ADC
    reader serves real multiprobe recall.

    Idempotent per run: pointer + generation rebuilt from scratch."""
    return run_lifecycle(
        spark, sf_dir, Fit("npq", pq=True), Cutover(nprobe=_NPROBE),
        Probe(adc=True), pointer="awsbatch_semdedup_ptrnpq",
    )


@query(
    "codebook_adc_escalated_refit",
    oracle=two_level(_GROWN_SRC, _Q3_SQL, cap=_ESCALATED_CAP, adc=True),
    wave=17,
)
def codebook_adc_escalated_refit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUALITY-ESCALATED refit of a PQ-FLAGGED generation, driver-gated:
    fit generation A at cap={cap0} WITH its PQ
    codes -> cutover (``pq`` + ``cap={cap0}`` on the pointer) -> admit
    yesterday's batch with codes appended in the same intent window,
    rank-chunked at the generation's own cap -> guarded
    ``refit_and_cutover`` at cap={cap1} (the escalation the supervisor
    performs on a below-floor snapshot with nprobe exhausted; the
    ``pq`` flag is INHERITED, so the codes + PQ codebook rebuild from
    the new generation's members at the NEW cell geometry before any
    pointer motion) -> vacuum A (five tables) -> ADC-probe today's
    batch through the pointer.

    Oracle: one clean adaptive fit over the grown corpus AT cap={cap1}
    + PQ codebook + codes + the two-stage ADC probe, unrolled in SQL —
    the driver's value hash proves the escalated refit-from-members
    re-keys the codes table to the new geometry exactly as a
    from-scratch build would (and that the PQ codebook, a pure
    function of the member set, survives the re-chunk unchanged).

    Idempotent per run: pointer + both generations rebuilt from
    scratch."""
    return run_lifecycle(
        spark, sf_dir, Fit("era", pq=True), Cutover(cap=_CAP), Admit(),
        Refit("erb", _ESCALATED_CAP), Vacuum(), Probe(adc=True),
        pointer="awsbatch_semdedup_ptresc",
    )


# ---------------------------------------------------------------------------
# Deletion: tombstones mask at once, the next refit excludes them
# ---------------------------------------------------------------------------


@query(
    "codebook_tombstone_probe",
    oracle=two_level(_SEEN_SRC, _MID_BOUNDARY, tombs=True),
    wave=18,
)
def codebook_tombstone_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion reaches serving WITHOUT a refit (module docstring):
    fit the adaptive codebook over the seen half -> cutover ->
    ``tombstone_members`` deletes every {mod}th member -> probe the
    new half THROUGH THE POINTER.  The serving path anti-joins the
    tombstones (broadcast — bounded by deletion volume), so deleted
    members stop matching at the very next probe while their cells'
    other members still match.

    Oracle: the identical adaptive fit (geometry unchanged — deletion
    does not refit) with ONLY the membership-cosine join filtered by
    the tombstone predicate.  The driver's value hash therefore proves
    BOTH halves of the deletion contract at once: rows whose only
    duplicates were tombstoned flip to novel, rows with surviving
    duplicates keep exactly the surviving counts/max-cosines.

    Idempotent per run: pointer + generation + tombstones rebuilt from
    scratch.  Reference parity: the reference has no deletion verb
    (its corpus is immutable public data); this is the north-star
    extension a takedown-capable 100 TB pipeline requires."""
    return run_lifecycle(
        spark, sf_dir, Fit("tmb"), Cutover(), Tombstone(), Probe(),
        pointer="awsbatch_semdedup_tmb_ptr",
    )


@query(
    "codebook_tombstone_refit",
    oracle=two_level(_SURVIVOR_SRC, _MID_BOUNDARY),
    wave=18,
)
def codebook_tombstone_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion becomes STRUCTURAL at the next refit (module
    docstring): fit -> cutover -> tombstone every {mod}th member ->
    guarded ``refit_and_cutover`` (the refit EXCLUDES tombstoned
    members, k0 recomputed over the survivors; the new generation
    starts with no tombstone table) -> probe through the pointer.

    Oracle: ONE CLEAN FIT over the seen half minus the tombstoned ids
    — the driver's value hash proves the refit lands the index exactly
    where a fit that never saw the deleted vectors would have, the
    same equivalence discipline as ``semdedup_codebook_refit``.

    Idempotent per run; the superseded generation is vacuumed (with
    its tombstone table) inside ``refit_and_cutover``'s caller
    contract — here explicitly, exercising the reclaim path."""
    return run_lifecycle(
        spark, sf_dir, Fit("tmr"), Cutover(), Tombstone(), Refit("tmrr"),
        Vacuum(), Probe(), pointer="awsbatch_semdedup_tmr_ptr",
    )


@query(
    "codebook_tombstone_adc",
    oracle=two_level(
        _SEEN_SRC, _MID_BOUNDARY, nprobe=_NPROBE, adc=True, tombs=True
    ),
    wave=18,
)
def codebook_tombstone_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion reaches the ADC serving path: fit
    the seen half WITH its PQ codes -> cutover recording ``pq`` +
    ``nprobe={nprobe}`` -> ``tombstone_members`` deletes every {mod}th
    member -> ADC-probe the new half THROUGH THE POINTER
    (``probe_current_generation(adc=True)`` reads the live members AND
    live codes views).  A deleted member must neither match at the
    exact verify NOR hold one of the {rerank} ADC candidate slots —
    slot-shadowing would change which LIVE members get verified, so
    filtering only the verify would hash differently.

    Oracle: the proven rank-{nprobe} ADC program with one predicate
    at the candidate-slot join and the PQ codebook trained
    over ALL members (fit-time artifact — serving masks deleted codes,
    it does not retrain).  Idempotent per run: pointer + generation +
    codes + tombstones rebuilt from scratch."""
    return run_lifecycle(
        spark, sf_dir, Fit("tba", pq=True), Cutover(nprobe=_NPROBE),
        Tombstone(), Probe(adc=True), pointer="awsbatch_semdedup_tba_ptr",
    )


_DOC_VALUES = dict(
    cap=_CAP, eps=_SEMDEDUP_EPS_BP, nprobe=_NPROBE, panel=_PANEL,
    sub=_PQ_SUB, k=_PQ_K, rerank=_PQ_RERANK, cap0=_CAP,
    cap1=_ESCALATED_CAP, mod=_TOMB_MOD,
)
for _q in (
    semdedup_codebook_capacity,
    semdedup_codebook_adaptive,
    semdedup_codebook_adaptive_append,
    semdedup_codebook_multiprobe,
    semdedup_codebook_recall_eval,
    codebook_pq_rerank_probe,
    codebook_quality_refit_lifecycle,
    codebook_pointer_nprobe_serving,
    codebook_pointer_adc_multiprobe,
    codebook_adc_escalated_refit,
    codebook_tombstone_probe,
    codebook_tombstone_refit,
    codebook_tombstone_adc,
):
    _q.__doc__ = _q.__doc__.format(**_DOC_VALUES)
