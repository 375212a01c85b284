"""Wave 16 (round 17, VERDICT r16 #1/#2): the serving probe surfaces
HONOR the pointer's nprobe, and the PQ x cap-escalation composition is
driven end to end.

Round 16 gave the lifecycle its recall actuator — but the stepped
nprobe reached only the QA snapshot probe: ``probe_current_generation``
(full-vector AND ADC) and the streaming pointer readers all ran the
single-assigned-cell program with no nprobe parameter at all, so the
loop could converge its QA knob while every production probe kept
serving nprobe=1 recall (VERDICT r16 "What's missing" #1).  Round 17
closes the gap the way the cap closed it in round 16: the knob RIDES
THE POINTER —

- ``cutover_generation(nprobe=N)`` records an ``nprobe=N`` token on the
  pointer's flag line (same atomic rename as the kind/n_fit/pq/cap);
- ``set_generation_nprobe`` is the actuator's write side: one snapshot
  read, one atomic rename, takes effect on the next pointer resolution
  (serving probes and the per-batch streaming readers alike) — no
  stream restart, no refit;
- ``probe_current_generation`` honors the token on BOTH paths: the
  full-vector and the ADC backends of ``index.probe.probe`` run the
  driver-proven rank-k program over one shared assignment;
- ``refit_and_cutover`` INHERITS the token: a generation swap changes
  index structure, never the actuator-owned serving knob;
- the supervisor's actuator applies each step to the pointer the
  moment a snapshot recommends it (``streaming/supervisor.py``), so
  the loop's output is production recall, not a QA artifact.

Two driver-gated queries prove the serving path, one per probe kind:
``codebook_pointer_nprobe_serving`` steps the knob through the
actuator's own write (``set_generation_nprobe``) and probes through
the pointer against the wave-13 multiprobe oracle;
``codebook_pointer_adc_multiprobe`` records the knob at cutover and
serves the ADC path at nprobe=2 against a from-scratch fit + PQ +
rank-2 oracle.  ``codebook_adc_escalated_refit`` drives the remaining
undriven composition (VERDICT r16 #2): a quality-escalated refit of a
PQ-FLAGGED generation — codes rebuilt at the escalated cap's new cell
geometry under the (cell, sub) bucket spec — proven against one clean
fit + encode at the new cap.

Scale shape: the multiprobe rank is r struct-min aggregates over the
broadcast k0 coarse book (r x the bounded broadcast-side compute, ZERO
extra exchange — the wave-13 discipline); the ADC union reads the
bucketed codes table exchange-free exactly like the single-probe path,
fanning <= nprobe x cap code rows per probed vector before the
top-rerank cut; the escalated-cap codes rebuild reads only (vec_id,
vq_s) member rows — the refit self-containment property.  The wave-14
sweep priced the knob: ~+19 pts vec-recall per nprobe step at a ~1x
probe constant per step.

Reference parity: the reference repo (161-line pandas/datashader
pipeline, `local.py` / `Reduce.ps1`) has no dedup surface; this
extends the LLM-pipeline operator family the build brief makes
first-class, mirroring FAISS's runtime-tunable IVF/IVFPQ nprobe on the
same persisted layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import (
    _CAP,
    _PQ_K,
    _PQ_SUB,
    _quantize,
)
from awsbatch_mapreduce_spark.index.generation import (
    admit_batch,
    build_generation,
    cutover_generation,
    fresh_pointer,
    read_pointer,
    refit_and_cutover,
    set_generation_nprobe,
    vacuum_generation,
)
from awsbatch_mapreduce_spark.index.probe import (
    _NO_PEER_BP,
    _PQ_RERANK,
    _SEMDEDUP_EPS_BP,
    probe_current_generation,
)
from awsbatch_mapreduce_spark.plans.iterative import _kmeans_cte
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.plans.wave11 import (
    _K0_SQL,
    _k0_sql,
    _MID_BOUNDARY,
    _SEEN_SRC,
    _split_ctes,
    _SPLIT_CTES,
)
from awsbatch_mapreduce_spark.plans.wave12 import _Q3_SQL
from awsbatch_mapreduce_spark.plans.wave13 import (
    _GROWN_SRC,
    _MULTIPROBE_ORACLE,
)
from awsbatch_mapreduce_spark.plans.wave14 import _pq_rerank_ctes
from awsbatch_mapreduce_spark.plans.wave15 import _ESCALATED_CAP
from awsbatch_mapreduce_spark.sources.tables import load_table

# The serving width both pointer queries exercise — one step above the
# single-probe default, the first value the actuator recommends.
_SERVE_NPROBE = 2

# The pointer queries grade against wave13's _MULTIPROBE_ORACLE, whose
# rank cut is baked to wave13._NPROBE; the agreement is a COUPLING, not
# a coincidence (ADVICE r17 low) — if either constant moves, the oracle
# must be re-derived (parameterized CTE like _pq_multiprobe_ctes), not
# silently diverge.  Import-time assert makes the coupling loud.
from awsbatch_mapreduce_spark.plans.wave13 import _NPROBE as _W13_NPROBE

assert _SERVE_NPROBE == _W13_NPROBE, (
    "codebook_pointer_nprobe_serving grades against wave13's"
    " _MULTIPROBE_ORACLE (rank cut = wave13._NPROBE ="
    f" {_W13_NPROBE}) but probes at _SERVE_NPROBE = {_SERVE_NPROBE};"
    " re-derive the oracle before changing either constant"
)


@query("codebook_pointer_nprobe_serving", oracle=_MULTIPROBE_ORACLE, wave=17)
def codebook_pointer_nprobe_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The actuator's step REACHES the serving probe, driver-gated
    (module docstring): fit generation A over the seen half -> cutover
    (pointer names A, NO nprobe token — the pre-step state every
    pointer starts in) -> ``set_generation_nprobe(pointer, {nprobe})``,
    the recall actuator's own write (one atomic rename, no refit, no
    stream restart) -> probe the new half THROUGH THE POINTER.

    Oracle: the wave-13 multiprobe oracle verbatim — the identical
    adaptive fit probed at nprobe={nprobe} — so the driver's value
    hash proves the pointer-resolved serving probe runs the REAL
    rank-{nprobe} program after the step, not the single-probe plan
    the pre-round-17 readers were stuck on.  (The boundary-straddling
    duplicates only rank 2 can see make the two programs' outputs
    differ on this fixture — the recall-eval queries measure exactly
    that gap — so a serving path that ignored the token could not
    hash-match.)

    Idempotent per run: pointer + generation rebuilt from scratch."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive

    pointer = fresh_pointer(sf_dir, "awsbatch_semdedup_ptrnps")
    build_generation(
        spark, sf_dir, "nps", emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    cutover_generation(spark, sf_dir, pointer, "nps")

    # the actuator's step: serving width 1 -> 2 on the live pointer
    set_generation_nprobe(pointer, _SERVE_NPROBE)

    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    return probe_current_generation(spark, sf_dir, pointer, new)


codebook_pointer_nprobe_serving.__doc__ = (
    codebook_pointer_nprobe_serving.__doc__.format(nprobe=_SERVE_NPROBE)
)


# ---------------------------------------------------------------------------
# ADC MULTIPROBE (the pointer's nprobe on the IVFPQ path): the rank<=k
# coarse assignment of the wave-13 multiprobe program feeding the
# wave-14 two-stage PQ probe — ADC over the UNION of the probed fine
# cells' codes, one top-rerank cut over the union, exact cosine on the
# survivors, PRIMARY (rank-1) cell/sub reported.  The oracle CTEs below
# restate the multiprobe assignment text (wave13._MULTIPROBE_CTES's
# qn/dn/an/dfine/afine) followed by the PQ section of
# wave14._pq_rerank_ctes with the adc join reading ALL ranks — the same
# two building blocks the Spark plan composes.
# ---------------------------------------------------------------------------


def _pq_multiprobe_ctes(boundary_sql: str, nprobe: int) -> str:
    return f""",
    qn AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM embeddings
      WHERE vec_id > {boundary_sql}),
    dn AS MATERIALIZED (
      SELECT qn.vec_id, c.cell,
             SUM(CAST(FLOOR((qn.vq / 1000000.0 - c.c) * (qn.vq / 1000000.0 - c.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qn JOIN c5 c ON c.pos = qn.pos
      GROUP BY 1, 2),
    an AS MATERIALIZED (
      SELECT vec_id, cell, rnk FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dfp, cell)
                 AS rnk
        FROM dn) t
      WHERE rnk <= {nprobe}),
    dfine AS MATERIALIZED (
      SELECT qn.vec_id, an.rnk, f.cell, f.sub,
             SUM(CAST(FLOOR((qn.vq / 1000000.0 - f.c) * (qn.vq / 1000000.0 - f.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qn JOIN an ON an.vec_id = qn.vec_id
      JOIN fc f ON f.cell = an.cell AND f.pos = qn.pos
      GROUP BY 1, 2, 3, 4),
    afine AS MATERIALIZED (
      SELECT vec_id, rnk,
             FIRST(cell ORDER BY dfp, cell) AS cell,
             FIRST(sub ORDER BY dfp, sub) AS sub
      FROM dfine GROUP BY vec_id, rnk),
    msub AS MATERIALIZED (
      SELECT m.vec_id, (q.pos - 1) // {_PQ_SUB} AS sm,
             (q.pos - 1) % {_PQ_SUB} AS sj,
             CAST(FLOOR(q.vq / 100.0 + 0.5) AS BIGINT) AS vq4
      FROM mfin m JOIN q ON q.vec_id = m.vec_id),
    pcb AS MATERIALIZED (
      SELECT CAST(vec_id % {_PQ_K} AS INT) AS k, sm, sj,
             CAST(FLOOR(CAST(SUM(vq4) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS cq
      FROM msub GROUP BY 1, 2, 3),
    mdist AS MATERIALIZED (
      SELECT s.vec_id, s.sm, c.k,
             SUM((s.vq4 - c.cq) * (s.vq4 - c.cq)) AS d
      FROM msub s JOIN pcb c ON c.sm = s.sm AND c.sj = s.sj
      GROUP BY 1, 2, 3),
    mcode AS MATERIALIZED (
      SELECT vec_id, sm, FIRST(k ORDER BY d, k) AS code
      FROM mdist GROUP BY 1, 2),
    psub AS (
      SELECT vec_id, (pos - 1) // {_PQ_SUB} AS sm,
             (pos - 1) % {_PQ_SUB} AS sj,
             CAST(FLOOR(vq / 100.0 + 0.5) AS BIGINT) AS vq4
      FROM qn),
    pdist AS MATERIALIZED (
      SELECT p.vec_id, p.sm, c.k AS code,
             SUM((p.vq4 - c.cq) * (p.vq4 - c.cq)) AS d
      FROM psub p JOIN pcb c ON c.sm = p.sm AND c.sj = p.sj
      GROUP BY 1, 2, 3),
    adc AS MATERIALIZED (
      SELECT a.vec_id AS id_new, s.vec_id AS id_seen, SUM(pd.d) AS adc_d
      FROM afine a
      JOIN mfin s ON s.cell = a.cell AND s.sub = a.sub
      JOIN mcode mc ON mc.vec_id = s.vec_id
      JOIN pdist pd ON pd.vec_id = a.vec_id AND pd.sm = mc.sm
                   AND pd.code = mc.code
      GROUP BY 1, 2),
    rr AS MATERIALIZED (
      SELECT id_new, id_seen FROM (
        SELECT id_new, id_seen,
               ROW_NUMBER() OVER (PARTITION BY id_new
                                  ORDER BY adc_d, id_seen) AS rk
        FROM adc) t
      WHERE rk <= {_PQ_RERANK}),
    nrm_s AS (SELECT vec_id, SUM(vq * vq) AS nn FROM q GROUP BY 1),
    nrm_n AS (SELECT vec_id, SUM(vq * vq) AS nn FROM qn GROUP BY 1),
    pr AS MATERIALIZED (
      SELECT rr.id_new, rr.id_seen, SUM(qn.vq * qs.vq) AS dot
      FROM rr
      JOIN qn ON qn.vec_id = rr.id_new
      JOIN q qs ON qs.vec_id = rr.id_seen AND qs.pos = qn.pos
      GROUP BY 1, 2),
    sim AS MATERIALIZED (
      SELECT id_new,
             CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 10000.0 + 0.5)
                  AS BIGINT) AS cos_bp
      FROM pr
      JOIN nrm_n na ON na.vec_id = id_new
      JOIN nrm_s nb ON nb.vec_id = id_seen
      WHERE na.nn > 0 AND nb.nn > 0),
    agg AS MATERIALIZED (
      SELECT id_new AS vec_id, COUNT(*) AS n_seen_dups,
             MAX(cos_bp) AS max_cos_bp
      FROM sim WHERE cos_bp >= {_SEMDEDUP_EPS_BP} GROUP BY 1)
    SELECT CAST(n.vec_id AS BIGINT) AS vec_id,
           CAST(n.cell AS INT) AS cell,
           CAST(n.sub AS INT) AS sub,
           CAST(COALESCE(a.n_seen_dups, 0) AS BIGINT) AS n_seen_dups,
           CAST(COALESCE(a.max_cos_bp, {_NO_PEER_BP}) AS BIGINT) AS max_cos_bp,
           CAST(CASE WHEN a.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_novel
    FROM (SELECT vec_id, cell, sub FROM afine WHERE rnk = 1) n
    LEFT JOIN agg a ON a.vec_id = n.vec_id
"""


# Same adaptive fit as `semdedup_codebook_adaptive` / the PQ re-rank
# probe (identical Lloyd chain + capacity-split text), probed through
# the PQ path at nprobe=2.
_PQ_MULTIPROBE_ORACLE = (
    _kmeans_cte(
        5,
        source=_SEEN_SRC,
        cell_expr=f"CAST(vec_id % {_K0_SQL} AS INT)",
    )
    + _SPLIT_CTES
    + _pq_multiprobe_ctes(_MID_BOUNDARY, _SERVE_NPROBE)
)


@query(
    "codebook_pointer_adc_multiprobe", oracle=_PQ_MULTIPROBE_ORACLE, wave=17
)
def codebook_pointer_adc_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ADC serving path at nprobe={nprobe} THROUGH the pointer,
    driver-gated (module docstring): fit generation A over the seen
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
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive

    pointer = fresh_pointer(sf_dir, "awsbatch_semdedup_ptrnpq")
    build_generation(
        spark, sf_dir, "npq", emb.filter(F.col("vec_id") <= F.lit(mid)),
        with_pq=True,
    )
    cutover_generation(
        spark, sf_dir, pointer, "npq", with_pq=True, nprobe=_SERVE_NPROBE
    )

    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    return probe_current_generation(spark, sf_dir, pointer, new, adc=True)


codebook_pointer_adc_multiprobe.__doc__ = (
    codebook_pointer_adc_multiprobe.__doc__.format(
        nprobe=_SERVE_NPROBE, rerank=_PQ_RERANK
    )
)


# ---------------------------------------------------------------------------
# PQ x CAP ESCALATION (VERDICT r16 #2): one code path has handled both
# since round 16 (`refit_and_cutover(with_pq=..., cap=...)`), but no
# driver query ran a quality-escalated refit ON a pq-flagged
# generation.  The composition is not free of content: the codes
# rebuild at an escalated cap changes CELL GEOMETRY under the codes'
# (cell, sub) bucket spec — every member re-chunks into new fine
# cells, every code row re-keys, and the PQ codebook retrains over the
# same member set (it is cap-independent by construction: residue-
# class means over seen_id, a pure function of the member SET — the
# oracle checks that too).  The driver hash proves the whole
# composition lands exactly where one clean fit + encode at the new
# cap would.
# ---------------------------------------------------------------------------

# From-scratch adaptive fit over the grown corpus AT THE ESCALATED CAP
# + the PQ two-stage program at the q3 probe boundary.
_ADC_ESCALATED_ORACLE = (
    _kmeans_cte(
        5,
        source=_GROWN_SRC,
        cell_expr=f"CAST(vec_id % {_k0_sql(_ESCALATED_CAP, _GROWN_SRC)} AS INT)",
    )
    + _split_ctes(_ESCALATED_CAP)
    + _pq_rerank_ctes(_Q3_SQL)
)


@query("codebook_adc_escalated_refit", oracle=_ADC_ESCALATED_ORACLE, wave=17)
def codebook_adc_escalated_refit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUALITY-ESCALATED refit of a PQ-FLAGGED generation, driver-gated
    (section comment): fit generation A at cap={cap0} WITH its PQ
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
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive
    q3 = (mid + b.hi) // 2  # oracle: (mid + MAX) // 2

    pointer = fresh_pointer(sf_dir, "awsbatch_semdedup_ptresc")
    # generation A at the base cap, PQ-flagged
    gen_a = build_generation(
        spark, sf_dir, "era", emb.filter(F.col("vec_id") <= F.lit(mid)),
        with_pq=True,
    )
    cutover_generation(
        spark, sf_dir, pointer, "era", with_pq=True, cap=_CAP
    )

    # yesterday's batch admitted WITH codes at the generation's own cap
    batch = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    admit_batch(
        spark, batch, gen_a, cap=read_pointer(pointer).cap, with_pq=True
    )

    # the quality escalation ON the pq generation: flag inherited,
    # codes rebuilt at the escalated cap's new cell geometry
    old = refit_and_cutover(
        spark, sf_dir, pointer, "erb", cap=_ESCALATED_CAP
    )
    vacuum_generation(spark, sf_dir, pointer, old)

    probe = emb.filter(F.col("vec_id") > F.lit(q3)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    return probe_current_generation(spark, sf_dir, pointer, probe, adc=True)


codebook_adc_escalated_refit.__doc__ = (
    codebook_adc_escalated_refit.__doc__.format(
        cap0=_CAP, cap1=_ESCALATED_CAP
    )
)
