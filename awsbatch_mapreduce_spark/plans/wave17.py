"""Wave 18: MEMBER DELETION from the persisted semantic-dedup index —
the lifecycle's missing verb (VERDICT r17 missing #1 / ask #2).

An LLM-data pipeline at 100 TB faces takedown / opt-out / licensing
removals as a ROUTINE operation.  Before this wave the generation
lifecycle could fit, admit, refit, cut over, and vacuum
(``plans/wave13.py``), but the only way to REMOVE a member was a full
manual refit from a hand-filtered member set, with no serving-path
guarantee in the window before it ran.  This wave adds the tombstone
protocol:

- ``tombstone_members`` records deletion requests in a per-generation
  TOMBSTONE table (seen_id set, crash-safe sibling-swap union — the
  same two-rename protocol as the streaming admission's repairs, so a
  crash mid-write is completable, never corrupting).  Deletes take
  effect on the NEXT probe — no refit, no stream restart, exactly the
  ``set_generation_nprobe`` serving-metadata discipline.
- EVERY serving path anti-joins the tombstones: the pointer-resolved
  probes (full-vector, multiprobe, ADC — ``wave13.probe_current_
  generation`` substitutes a live-members view), the streaming
  admission's novelty probe, and the supervisor's QA recall snapshot
  (QA must measure what production serves).  The tombstone side is
  bounded by the deletion request volume — broadcast by design (the
  one small-side broadcast this family allows; the members side keeps
  its (cell, sub) bucket distribution because a broadcast join
  preserves the streamed side's partitioning: ZERO new exchange).
- ``refit_and_cutover`` EXCLUDES tombstoned members from the new
  generation's fit and the tombstone set dies with its generation at
  vacuum — deletion is structural after the next refit, serving-level
  immediately.  The refit guard recounts tombstones exactly like
  members: a deletion landing mid-refit refuses the cutover (it would
  otherwise be silently resurrected by the vacuum clearing it).

Scale shape at 100 TB: the tombstone table is O(deletion requests) —
small by nature; probes pay one broadcast anti-join (no exchange); the
refit pays one anti-join over the members scan it already does.  The
reference's own lifecycle thinking (generations, vacuum —
``infra/Program.cs:143-148`` provisions compute that ages out; the
manifest is rebuilt per run ``Implementation.cs:45-47``) has no
deletion verb because its corpus is immutable public taxi data; a
training-data pipeline's corpus is not.

Driver-gated queries (both oracle = from-scratch DuckDB program over
members-minus-tombstones, per the VERDICT's ask):

- ``codebook_tombstone_probe``: fit -> cutover -> tombstone every
  5th member -> probe THROUGH THE POINTER.  The oracle keeps the FIT
  over the full seen half (deletion does not refit geometry) and
  filters ONLY the membership-cosine join — proving deleted vectors
  stop matching while their cells' other members still match.
- ``codebook_tombstone_refit``: same setup, then the guarded
  refit+cutover (excludes tombstones, new generation starts clean) ->
  probe.  Oracle = one clean fit over the seen half MINUS the
  tombstoned ids (k0 recomputed over the surviving count, the
  adaptive rule at its refit evaluation) — proving the refit lands
  the index exactly where a fit that never saw the deleted vectors
  would have.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import _CAP, _quantize
from awsbatch_mapreduce_spark.index.generation import (
    build_generation,
    cutover_generation,
    fresh_pointer,
    refit_and_cutover,
    tombstone_members,
    vacuum_generation,
)
from awsbatch_mapreduce_spark.index.probe import (
    _PQ_RERANK,
    probe_current_generation,
)
from awsbatch_mapreduce_spark.plans.iterative import _kmeans_cte
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.plans.wave11 import (
    _k0_sql,
    _K0_SQL,
    _probe_ctes,
    _SEEN_SRC,
    _SPLIT_CTES,
    _MID_BOUNDARY,
)
from awsbatch_mapreduce_spark.plans.wave16 import (
    _pq_multiprobe_ctes,
    _SERVE_NPROBE,
)
from awsbatch_mapreduce_spark.scratch import (
    _scratch_dir,
    _scratch_tag,
    _table_names,
)
from awsbatch_mapreduce_spark.sources.tables import load_table

# Every 5th member id is tombstoned in both driver queries — ~20% of
# the seen half, dense enough that many probe vectors lose duplicates
# (the hash must change vs the no-tombstone program) while every fine
# cell keeps survivors (the "other members still match" half).
_TOMB_MOD = 5


# ---------------------------------------------------------------------------
# Driver-gated queries
# ---------------------------------------------------------------------------

# Oracle 1 (tombstone WITHOUT refit): the adaptive fit over the FULL
# seen half — deletion does not change index geometry — with ONLY the
# membership-cosine join filtered.  Derived from the proven
# ``_probe_ctes`` text by one targeted predicate insertion (guarded:
# the anchor must appear exactly once) rather than a divergent copy.
_PR_ANCHOR = "JOIN mfin s ON s.cell = a.cell AND s.sub = a.sub"


def _probe_ctes_tombs(boundary_sql: str, tomb_mod: int) -> str:
    base = _probe_ctes(boundary_sql)
    assert base.count(_PR_ANCHOR) == 1, "probe CTE anchor drifted"
    return base.replace(
        _PR_ANCHOR,
        _PR_ANCHOR + f" AND (s.vec_id % {tomb_mod}) <> 0",
    )


_TOMBSTONE_PROBE_ORACLE = (
    _kmeans_cte(
        5,
        source=_SEEN_SRC,
        cell_expr=f"CAST(vec_id % {_K0_SQL} AS INT)",
    )
    + _SPLIT_CTES
    + _probe_ctes_tombs(_MID_BOUNDARY, _TOMB_MOD)
)

# Oracle 2 (tombstone THEN refit): one clean fit over the seen half
# MINUS the tombstoned ids, standard probe — k0 recomputed over the
# SURVIVING count (the adaptive sizing rule at refit time, exactly
# the refit's arithmetic on the filtered member set).
_SURVIVOR_SRC = (
    "(SELECT * FROM embeddings WHERE vec_id <="
    " (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 FROM embeddings)"
    f" AND (vec_id % {_TOMB_MOD}) <> 0)"
)

_TOMBSTONE_REFIT_ORACLE = (
    _kmeans_cte(
        5,
        source=_SURVIVOR_SRC,
        cell_expr=f"CAST(vec_id % {_k0_sql(_CAP, _SURVIVOR_SRC)} AS INT)",
    )
    + _SPLIT_CTES
    + _probe_ctes(_MID_BOUNDARY)
)


def _fit_cutover_tombstone(
    spark: SparkSession, sf_dir: str, kind: str, scratch: str,
    with_pq: bool = False,
) -> tuple[str, DataFrame]:
    """Shared setup of the deletion queries: adaptive fit over the
    seen half -> cutover -> tombstone every {mod}th member id via the
    public verb.  ``with_pq`` additionally builds the generation's
    codes + PQ codebook BEFORE the deletions land and records the
    ``pq`` + ``nprobe=`` tokens at cutover — the ADC composition's
    setup (codes are fit-time artifacts; deletion must mask them at
    serve time, not rebuild them).  Returns (pointer_path, quantized
    probe batch)."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive

    pointer = fresh_pointer(sf_dir, scratch)
    # the fresh layout also drops a stale tombstone table from a prior
    # run of this query, which would otherwise double-delete
    lay = build_generation(
        spark, sf_dir, kind, emb.filter(F.col("vec_id") <= F.lit(mid)),
        with_pq=with_pq,
    )
    cutover_generation(
        spark, sf_dir, pointer, kind, with_pq=with_pq,
        nprobe=_SERVE_NPROBE if with_pq else None,
    )

    # the deletion request: every {mod}th member id, via the verb
    doomed = (
        spark.table(lay.members)
        .filter(F.pmod(F.col("seen_id"), F.lit(_TOMB_MOD)) == 0)
        .select("seen_id")
    )
    tombstone_members(spark, sf_dir, pointer, doomed)

    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    return pointer, new


@query("codebook_tombstone_probe", oracle=_TOMBSTONE_PROBE_ORACLE, wave=18)
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
    pointer, new = _fit_cutover_tombstone(
        spark, sf_dir, "tmb", "awsbatch_semdedup_tmb_ptr"
    )
    return probe_current_generation(spark, sf_dir, pointer, new)


@query("codebook_tombstone_refit", oracle=_TOMBSTONE_REFIT_ORACLE, wave=18)
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
    pointer, new = _fit_cutover_tombstone(
        spark, sf_dir, "tmr", "awsbatch_semdedup_tmr_ptr"
    )
    # refit into a fresh generation: excludes tombstones, clears them
    # (refit_and_cutover's own fresh_layout sweeps the stale target)
    prev = refit_and_cutover(spark, sf_dir, pointer, "tmrr")
    vacuum_generation(spark, sf_dir, pointer, prev)
    return probe_current_generation(spark, sf_dir, pointer, new)


for _q in (codebook_tombstone_probe, codebook_tombstone_refit):
    _q.__doc__ = _q.__doc__.format(mod=_TOMB_MOD)


# ---------------------------------------------------------------------------
# DELETION x PQ/ADC composition: the ADC serving path reads the LIVE
# codes view (a deleted member must not occupy a top-rerank candidate
# slot — it would be dropped at the exact verify anyway, but its slot
# would shadow a live candidate), pinned by
# tests/test_tombstones.py::test_adc_serving_excludes_tombstoned_members
# since the verb landed.  This query gives the composition the driver
# hash: the oracle's ONE predicate insertion sits at the candidate-slot
# join (the same `_PR_ANCHOR` the full-vector oracle uses), while the
# PQ codebook CTEs train over ALL members — codes are fit-time
# artifacts, so deletion masks them at serve time, never retrains.
# ---------------------------------------------------------------------------


def _pq_multiprobe_ctes_tombs(
    boundary_sql: str, nprobe: int, tomb_mod: int
) -> str:
    base = _pq_multiprobe_ctes(boundary_sql, nprobe)
    assert base.count(_PR_ANCHOR) == 1, "ADC probe CTE anchor drifted"
    return base.replace(
        _PR_ANCHOR,
        _PR_ANCHOR + f" AND (s.vec_id % {tomb_mod}) <> 0",
    )


_TOMBSTONE_ADC_ORACLE = (
    _kmeans_cte(
        5,
        source=_SEEN_SRC,
        cell_expr=f"CAST(vec_id % {_K0_SQL} AS INT)",
    )
    + _SPLIT_CTES
    + _pq_multiprobe_ctes_tombs(_MID_BOUNDARY, _SERVE_NPROBE, _TOMB_MOD)
)


@query("codebook_tombstone_adc", oracle=_TOMBSTONE_ADC_ORACLE, wave=18)
def codebook_tombstone_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion reaches the ADC serving path (section comment): fit
    the seen half WITH its PQ codes -> cutover recording ``pq`` +
    ``nprobe={nprobe}`` -> ``tombstone_members`` deletes every {mod}th
    member -> ADC-probe the new half THROUGH THE POINTER
    (``probe_current_generation(adc=True)`` reads the live members AND
    live codes views).  A deleted member must neither match at the
    exact verify NOR hold one of the {rerank} ADC candidate slots —
    slot-shadowing would change which LIVE members get verified, so
    filtering only the verify would hash differently.

    Oracle: the proven rank-{nprobe} ADC program with one predicate
    insertion at the candidate-slot join and the PQ codebook trained
    over ALL members (fit-time artifact — serving masks deleted codes,
    it does not retrain).  Idempotent per run: pointer + generation +
    codes + tombstones rebuilt from scratch."""
    pointer, new = _fit_cutover_tombstone(
        spark, sf_dir, "tba", "awsbatch_semdedup_tba_ptr", with_pq=True
    )
    return probe_current_generation(spark, sf_dir, pointer, new, adc=True)


codebook_tombstone_adc.__doc__ = codebook_tombstone_adc.__doc__.format(
    mod=_TOMB_MOD, nprobe=_SERVE_NPROBE, rerank=_PQ_RERANK
)


# ---------------------------------------------------------------------------
# STREAMING TEXT NEAR-DUP ADMISSION, batch twin (VERDICT r17 missing #2):
# the sequential greedy LSH gate — per batch, probe the persisted band
# index of previously ADMITTED docs, admit only novel ones.  The
# streaming operator (`streaming/lsh.py`) runs the identical program
# per micro-batch with exactly-once markers; this query IS its
# driver-gated batch twin (same boundaries, same verdicts, same final
# index — stream==batch pinned in tests/test_streaming_lsh.py).
# ---------------------------------------------------------------------------

_N_GATE_BATCHES = 4

# The greedy gate unrolled over the four doc_id-quartile batches: admK
# = batch-K docs with no band shared with any EARLIER admitted doc.
# Sequential admission is deliberately NOT the connected-components
# keep-set (`dedup_canonical_assignment`): a chain A-B-C admits A and C
# (B rejected, C never compared to the unadmitted B) — the semantics a
# live ingest gate actually has, which is why the oracle unrolls the
# sequence instead of reusing the closure oracle.
from awsbatch_mapreduce_spark.operators.minhash import (  # noqa: E402
    _BANDS_SQL,
    _SH_SQL,
    _sig_sql,
    band_index_rows,
)


def _gate_stage(k: int, prior: str) -> str:
    """hits/adm CTE pair for batch ``k`` probing the union ``prior``."""
    return f""",
    h{k} AS (
      SELECT DISTINCT n.doc_id, s.doc_id AS seen_id
      FROM bands n
      JOIN tagged tn ON tn.doc_id = n.doc_id AND tn.batch_k = {k}
      JOIN bands s ON s.bk = n.bk
      JOIN {prior} a ON a.doc_id = s.doc_id),
    adm{k} AS (
      SELECT t.doc_id FROM tagged t
      WHERE t.batch_k = {k}
        AND t.doc_id NOT IN (SELECT doc_id FROM h{k}))"""


# Shared prefix (stages 1-3) and tail of both gate oracles — the plain
# gate and the takedown variant differ ONLY in batch 4's seen side.
_GATE_ORACLE_PREFIX = (
    f"""
    WITH {_SH_SQL},
    e AS (SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) * 1 // 4 AS q1,
                 MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) * 2 // 4 AS q2,
                 MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) * 3 // 4 AS q3
          FROM documents),
    {_sig_sql()},
    {_BANDS_SQL},
    tagged AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id <= e.q1 THEN 1
                  WHEN d.doc_id <= e.q2 THEN 2
                  WHEN d.doc_id <= e.q3 THEN 3
                  ELSE 4 END AS batch_k
      FROM documents d CROSS JOIN e),
    adm1 AS (SELECT doc_id FROM tagged WHERE batch_k = 1)"""
    + _gate_stage(2, "adm1")
    + """,
    adm12 AS (SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2)"""
    + _gate_stage(3, "adm12")
    + """,
    adm123 AS (SELECT doc_id FROM adm12 UNION ALL SELECT doc_id FROM adm3)"""
)

_GATE_ORACLE_TAIL = """,
    nn AS (
      SELECT doc_id, COUNT(*) AS n_seen_nbrs FROM (
        SELECT * FROM h2
        UNION ALL SELECT * FROM h3
        UNION ALL SELECT * FROM h4) u
      GROUP BY 1)
    SELECT t.doc_id,
           CAST(t.batch_k AS BIGINT) AS batch_k,
           CAST(COALESCE(nn.n_seen_nbrs, 0) AS BIGINT) AS n_seen_nbrs,
           CAST(CASE WHEN nn.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_admitted
    FROM tagged t LEFT JOIN nn ON nn.doc_id = t.doc_id
"""

_LSH_GATE_ORACLE = (
    _GATE_ORACLE_PREFIX + _gate_stage(4, "adm123") + _GATE_ORACLE_TAIL
)

# Takedown variant: after batch 3, every admitted doc with
# doc_id % {mod} == 0 is REMOVED from the band index; batch 4 gates
# against the survivors only.
_TAKEDOWN_MOD = 7

_LSH_TAKEDOWN_ORACLE = (
    _GATE_ORACLE_PREFIX
    + f""",
    kept AS (SELECT doc_id FROM adm123 WHERE doc_id % {_TAKEDOWN_MOD} <> 0)"""
    + _gate_stage(4, "kept")
    + _GATE_ORACLE_TAIL
)


@query("lsh_admission_gate", oracle=_LSH_GATE_ORACLE, wave=18)
def lsh_admission_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential near-dup ADMISSION GATE over the persisted LSH band
    index (section comment): documents arrive in {k} doc_id-quartile
    batches; each batch is signatured (the dedup ladder's exact
    minhash/band constants), probed against the band index of
    previously ADMITTED docs, and only NOVEL docs' bands are appended
    — near-dup rejection at the ingest boundary, the batch twin of
    ``streaming/lsh.py``'s exactly-once micro-batch gate.

    Output per document: (doc_id, batch_k, n_seen_nbrs, is_admitted).
    Batch-1 docs always admit (empty index); docs too short to shingle
    carry no bands and always admit — identically in both engines.

    Scale shape: per batch one signature pass over the batch only, one
    band join whose seen side is the bucketed index (bucket-pruned, no
    exchange — the ``lsh_band_index_lifecycle`` physical story), one
    bounded append of novel bands.  Nothing rescans admitted text; the
    index grows by NOVEL bands only (the gate shrinks it vs the
    admit-all lifecycle).  Data-scaled joins pinned sort-merge.

    Idempotent per run: the gate table is dropped and rebuilt, scratch
    under the per-fixture dir, stale tags swept."""
    from awsbatch_mapreduce_spark.streaming.lsh import create_band_index

    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    # oracle: lo + (hi - lo) * k // 4, ids positive
    edges = [b.lo - 1] + [
        b.lo + (b.hi - b.lo) * k // 4 for k in range(1, _N_GATE_BATCHES)
    ] + [b.hi]

    tag = _scratch_tag(sf_dir)
    base = _scratch_dir("awsbatch_lsh_gate", sf_dir)
    tbl = f"lsh_gate_idx_{tag}"
    for t in _table_names(spark):
        if t.startswith("lsh_gate_idx_") and not t.endswith(tag):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    create_band_index(spark, base, tbl)

    bands = band_index_rows(docs).localCheckpoint()
    verdicts = [
        _gate_one_batch(spark, tbl, docs, bands, edges[k - 1], edges[k], k)
        for k in range(1, _N_GATE_BATCHES + 1)
    ]
    out = verdicts[0]
    for v in verdicts[1:]:
        out = out.unionByName(v)
    return out.select("doc_id", "batch_k", "n_seen_nbrs", "is_admitted")


def _gate_one_batch(
    spark, tbl: str, docs, bands, lo_ex: int, hi_in: int, k: int
):
    """One gate stage: probe batch k against the current index, emit
    its verdicts (MATERIALIZED before the append mutates the index the
    probe reads — the admit_batch offset-snapshot discipline), append
    the admitted docs' bands.  Shared by the plain gate and the
    takedown variant."""
    from awsbatch_mapreduce_spark.operators.hints import never_broadcast
    from awsbatch_mapreduce_spark.streaming.lsh import probe_band_index

    batch_docs = docs.filter(
        (F.col("doc_id") > F.lit(lo_ex)) & (F.col("doc_id") <= F.lit(hi_in))
    ).select("doc_id")
    batch_bands = bands.filter(
        (F.col("doc_id") > F.lit(lo_ex)) & (F.col("doc_id") <= F.lit(hi_in))
    )
    banded = probe_band_index(spark, batch_bands, tbl)
    bandless = batch_docs.join(
        never_broadcast(banded.select("doc_id")), "doc_id", "left_anti"
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lit(0).cast("bigint").alias("n_seen_nbrs"),
        F.lit(1).cast("bigint").alias("is_admitted"),
    )
    v = (
        banded.unionByName(bandless)
        .withColumn("batch_k", F.lit(k).cast("bigint"))
        .localCheckpoint()
    )
    admitted_bands = batch_bands.join(
        never_broadcast(
            v.filter(F.col("is_admitted") == 1).select("doc_id")
        ),
        "doc_id",
        "semi",
    )
    (
        admitted_bands.write.bucketBy(16, "bk")
        .sortBy("bk")
        .mode("append")
        .saveAsTable(tbl)
    )
    return v


lsh_admission_gate.__doc__ = lsh_admission_gate.__doc__.format(
    k=_N_GATE_BATCHES
)


@query("lsh_gate_takedown", oracle=_LSH_TAKEDOWN_ORACLE, wave=18)
def lsh_gate_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEXT index's takedown verb, driver-gated (the deletion
    symmetry of ``codebook_tombstone_probe``): run the greedy gate for
    batches 1-3, then REMOVE every admitted doc with
    ``doc_id % {mod} == 0`` from the band index
    (``streaming.lsh.remove_docs_from_band_index`` — crash-safe
    sibling-swap anti-join, idempotent), then gate batch 4 against the
    SURVIVORS.  Removed docs stop gating immediately: a batch-4 near
    duplicate of removed content is admissible again — the documented
    takedown semantics (stop HOLDING the content; a regime that must
    keep rejecting it tombstones verdicts instead).

    Oracle: the gate program with batch 4's seen side filtered to the
    kept admitted set — batches 1-3's verdicts are byte-identical to
    the plain gate's (removal happens after them), so the hash proves
    exactly and only the removal's effect on stage 4.

    Scale shape: the gate's (see ``lsh_admission_gate``) plus ONE
    anti-join rewrite of the bands-only index (small next to the
    corpus; broadcast side = the bounded removal request).

    Idempotent per run: own table + scratch, stale tags swept."""
    from awsbatch_mapreduce_spark.streaming.lsh import (
        create_band_index,
        remove_docs_from_band_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    edges = [b.lo - 1] + [
        b.lo + (b.hi - b.lo) * k // 4 for k in range(1, _N_GATE_BATCHES)
    ] + [b.hi]

    tag = _scratch_tag(sf_dir)
    base = _scratch_dir("awsbatch_lsh_takedown", sf_dir)
    tbl = f"lsh_take_idx_{tag}"
    for t in _table_names(spark):
        if t.startswith("lsh_take_idx_") and not t.endswith(tag):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    create_band_index(spark, base, tbl)

    bands = band_index_rows(docs).localCheckpoint()
    verdicts = [
        _gate_one_batch(spark, tbl, docs, bands, edges[k - 1], edges[k], k)
        for k in range(1, _N_GATE_BATCHES)  # batches 1-3
    ]
    # the takedown: every admitted doc with doc_id % {mod} == 0 — the
    # request may name any id (absent ids no-op in the anti-join), so
    # the %-filtered id range suffices and matches the oracle's kept
    doomed = docs.filter(
        (F.col("doc_id") <= F.lit(edges[3]))
        & (F.pmod(F.col("doc_id"), F.lit(_TAKEDOWN_MOD)) == 0)
    ).select("doc_id")
    remove_docs_from_band_index(spark, tbl, doomed)
    verdicts.append(
        _gate_one_batch(
            spark, tbl, docs, bands, edges[3], edges[4], _N_GATE_BATCHES
        )
    )
    out = verdicts[0]
    for v in verdicts[1:]:
        out = out.unionByName(v)
    return out.select("doc_id", "batch_k", "n_seen_nbrs", "is_admitted")


lsh_gate_takedown.__doc__ = lsh_gate_takedown.__doc__.format(
    mod=_TAKEDOWN_MOD
)
