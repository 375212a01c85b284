"""Wave 13 (round 14, VERDICT r13 #1): the codebook REFIT — the last
unbuilt step of the persisted-index lifecycle.

The incremental semantic family now covers build (wave 11, adaptive
two-level fit, 100x-measured), daily append (wave 12, cap bound
preserved without refit), and continuous ingestion (round-13 streaming
admission, keep-up boundary measured).  What bounds all three is the
REFIT: appends and admissions grow the fine book by one ceil-grade
generation per batch (the round-13 load test measured 20-45x
refit-starved growth), and k0 stays sized for the corpus at FIT time —
so the per-probe coarse/fine balance k0 ~ sqrt(n/cap) drifts until a
refit recomputes it.  Until this wave that refit existed only as prose
(wave-12 module docstring); ``semdedup_codebook_refit`` executes it.

Lifecycle under test, end to end over the vec_id quarters
[build half | three append terciles | probe quarter]:

1. BUILD the adaptive two-level index over the seen half
   (``index.generation.build_generation``, mod-hash init, k0 =
   ceil(sqrt(ceil(n/cap)))).
2. APPEND three batches through ``index.generation.admit_batch`` — each adds a
   GENERATION of new fine sub-cells (>= 1 per touched coarse cell even
   for tiny batches: the ceil overhead the refit exists to collapse).
3. REFIT: recompute k0 over the GROWN corpus and rebuild the three
   tables as a fresh index generation — sourced from the members table
   ALONE (``build_generation`` over ``members_corpus``).
   The index is self-contained: its
   ``vq`` rows are ``_quantize(embedding)`` by construction, so the
   refit never re-reads the raw corpus (at 100 TB the raw corpus may
   be cold storage; the members table is the index's own bucketed
   parquet).  The quantized Lloyd path iterates on integers identical
   to a from-scratch fit's — proof below.
4. PROBE today's batch against the REFITTED index (shared
   ``index.probe.probe``).

Equivalence proof (a): the ORACLE is the from-scratch adaptive program
over the grown corpus — the identical unrolled Lloyd chain
(``iterative._kmeans_cte`` with the mod-init cell expression over
``vec_id <= q3``) + the shared split CTEs + the shared probe program
(``wave11._probe_ctes``, boundary q3).  The driver's value hash
therefore checks exactly the claim: probing the index the LIFECYCLE
produced (build -> 3 appends -> refit-from-members) equals probing a
from-scratch fit of the same corpus.  ``tests/test_wave13.py``
additionally pins the Spark-side twin (refit-from-members vs
from-scratch-from-embeddings, frame-equal) and collapse proof (b):
the refitted fine book is back at ceil(n/cap)-grade (<= ceil(n/cap) +
k0' rows — one ceil overhead per coarse cell), with the <= cap member
bound holding by construction.

Reference parity: the refit is the reference's own rhythm applied to
the index — the reference rebuilds its work manifest from scratch on
every job run (`Implementation.cs:35-47`: LoadAllDates -> jobData.json
-> re-upload) rather than patching the previous one; here the weekly
refit rebuilds the codebook generation the daily appends patched.

Scale read: the refit costs one adaptive fit over n (the wave-11
measured 100x point, 136.7 s clean) and runs weekly; the append path
it resets costs ~zero per batch (REHEARSAL_r13.jsonl).  The refit
writes a NEW generation (distinct table tag) and the probe cut over
atomically by name — no in-place mutation of tables a concurrent
probe might be reading, which is also what makes the read-own-writes
hazard of refitting FROM the members table a non-issue (the source
generation is immutable during the refit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import _CAP, _quantize
from awsbatch_mapreduce_spark.index.generation import (
    admit_batch,
    build_generation,
    members_corpus,
)
from awsbatch_mapreduce_spark.index.probe import (
    _NO_PEER_BP,
    _SEMDEDUP_EPS_BP,
    probe,
    probe_stats,
    score_recall,
    truth_totals,
)
from awsbatch_mapreduce_spark.plans.iterative import _kmeans_cte
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.plans.wave11 import (
    _K0_SQL,
    _k0_sql,
    _MID_BOUNDARY,
    _probe_ctes,
    _SEEN_SRC,
    _SPLIT_CTES,
)
from awsbatch_mapreduce_spark.plans.wave12 import _Q3_SQL
from awsbatch_mapreduce_spark.sources.tables import load_table

# The grown corpus: everything at or below the 3/4 point — the build
# half plus the three appended terciles.  Matches the Spark scalars
# (integer floor-division on positive ids) exactly.
_GROWN_SRC = f"(SELECT * FROM embeddings WHERE vec_id <= {_Q3_SQL})"

# From-scratch adaptive program over the grown corpus: THIS being the
# oracle is equivalence proof (a) — the driver hash-compares the
# lifecycle's probe output against a clean fit's (module docstring).
_REFIT_ORACLE = (
    _kmeans_cte(
        5,
        source=_GROWN_SRC,
        cell_expr=f"CAST(vec_id % {_k0_sql(_CAP, _GROWN_SRC)} AS INT)",
    )
    + _SPLIT_CTES
    + _probe_ctes(_Q3_SQL)
)


@query("semdedup_codebook_refit", oracle=_REFIT_ORACLE, wave=13)
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
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive
    q3 = (mid + b.hi) // 2  # oracle: (mid + MAX) // 2

    # 1. BUILD over the seen half (pre-refit generation, kind "rfa").
    gen_a = build_generation(
        spark, sf_dir, "rfa", emb.filter(F.col("vec_id") <= F.lit(mid))
    )

    # 2. Three APPEND generations over the (mid, q3] terciles — the "N
    # appends" whose accumulated ceil overhead the refit collapses.
    # Tercile bounds are driver-side integers; the oracle never sees
    # them (a from-scratch fit is append-structure-blind, which is the
    # point of the equivalence).
    t1 = mid + (q3 - mid) // 3
    t2 = mid + (2 * (q3 - mid)) // 3
    for lo_b, hi_b in ((mid, t1), (t1, t2), (t2, q3)):
        batch = emb.filter(
            (F.col("vec_id") > F.lit(lo_b)) & (F.col("vec_id") <= F.lit(hi_b))
        ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))
        admit_batch(spark, batch, gen_a)

    # 3. REFIT from the grown members table into a new generation.
    gen_r = build_generation(spark, sf_dir, "rft", members_corpus(spark, gen_a))

    # 4. PROBE today's batch against the refitted index.
    today = emb.filter(F.col("vec_id") > F.lit(q3)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    return probe(spark, today, gen_r.coarse, gen_r.fine, gen_r.members)


# ---------------------------------------------------------------------------
# MULTI-PROBE (nprobe=2): the production recall knob of every IVF-shaped
# index (FAISS `nprobe`), applied to the adaptive two-level codebook.
# The single-probe novelty check misses duplicates that straddle a
# coarse-cell boundary (the wave-11 module docstring's measured recall
# cost); probing the TWO nearest coarse cells checks the union of two
# fine cells' members instead of one, trading a bounded 2x probe
# constant (2*k0 coarse distances evaluate anyway; + a second fine
# argmin + <= cap extra membership cosines) for the boundary recall.
# The asymptotic shape is unchanged: O(nprobe * sqrt(n/cap) * d) per
# vector with nprobe fixed at 2.
# ---------------------------------------------------------------------------

_NPROBE = 2

# The nprobe=2 probe program over the shared fitted-index CTEs
# (q/c5/mfin/fc from _kmeans_cte + _SPLIT_CTES): identical text to
# wave11._probe_ctes except the coarse argmin (`an`) becomes a top-2
# rank and the fine argmin / membership check run per (vec_id, rank),
# aggregating duplicates over the UNION of the probed fine cells.  The
# reported (cell, sub) is the PRIMARY (rank-1) assignment — identical
# to the single-probe output — so the two variants' rows differ only
# in the dup columns, which is what makes the superset property
# directly testable.
_MULTIPROBE_CTES = f""",
    qn AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM embeddings
      WHERE vec_id > {_MID_BOUNDARY}),
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
      WHERE rnk <= {_NPROBE}),
    dfine AS MATERIALIZED (
      SELECT qn.vec_id, an.rnk, f.cell, f.sub,
             SUM(CAST(FLOOR((qn.vq / 1000000.0 - f.c) * (qn.vq / 1000000.0 - f.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qn JOIN an ON an.vec_id = qn.vec_id
      JOIN fc f ON f.cell = an.cell AND f.pos = qn.pos
      GROUP BY 1, 2, 3, 4),
    afine AS MATERIALIZED (
      SELECT vec_id, rnk,
             FIRST(cell ORDER BY dfp, sub) AS cell,
             FIRST(sub ORDER BY dfp, sub) AS sub
      FROM dfine GROUP BY vec_id, rnk),
    nrm_s AS (SELECT vec_id, SUM(vq * vq) AS nn FROM q GROUP BY 1),
    nrm_n AS (SELECT vec_id, SUM(vq * vq) AS nn FROM qn GROUP BY 1),
    pr AS MATERIALIZED (
      SELECT a.vec_id AS id_new, s.vec_id AS id_seen,
             SUM(qn.vq * qs.vq) AS dot
      FROM afine a
      JOIN mfin s ON s.cell = a.cell AND s.sub = a.sub
      JOIN qn ON qn.vec_id = a.vec_id
      JOIN q qs ON qs.vec_id = s.vec_id AND qs.pos = qn.pos
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

# Same adaptive fit as `semdedup_codebook_adaptive` (identical Lloyd
# chain + capacity-split text), probed with nprobe=2.
_MULTIPROBE_ORACLE = (
    _kmeans_cte(
        5,
        source=_SEEN_SRC,
        cell_expr=f"CAST(vec_id % {_K0_SQL} AS INT)",
    )
    + _SPLIT_CTES
    + _MULTIPROBE_CTES
)


@query("semdedup_codebook_multiprobe", oracle=_MULTIPROBE_ORACLE, wave=13)
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
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive

    lay = build_generation(
        spark, sf_dir, "mp2", emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    return probe(
        spark, new, lay.coarse, lay.fine, lay.members, nprobe=_NPROBE
    )


semdedup_codebook_multiprobe.__doc__ = (
    semdedup_codebook_multiprobe.__doc__.format(
        nprobe=_NPROBE, cap=_CAP, eps=_SEMDEDUP_EPS_BP
    )
)


# ---------------------------------------------------------------------------
# RECALL EVAL: the QA harness for the codebook probes — the semantic
# twin of `ann_recall_eval` / `minhash_lsh_eval`.  Per probed vector of
# a BOUNDED panel, brute-force integer-cosine truth (same fixed-point
# arithmetic as the probes, so truth and probe can never disagree on a
# cosine value — only on which pairs the index made visible) is
# compared against the nprobe=1 and nprobe=2 probe programs over ONE
# shared fit.  At 100 TB this runs on a sampled panel on a schedule
# (one brute-force pass per panel vector), exactly like the ANN evals —
# it is how an operator re-tunes nprobe/cap from measurements.
# ---------------------------------------------------------------------------

# Panel width: vec_id in (mid, mid + _PANEL] — bounded by construction
# (a literal id range), so broadcasting it into the truth cross join is
# the registered scalar-batch pattern, never data x data.  Widened
# 64 -> 256 in round 15 (VERDICT r14 #3): at 64 the recall quantum was
# ~150-300 bp per boundary vector — too coarse to rank adjacent knob
# settings; at 256 it is ~40-80 bp (panel-width sensitivity recorded in
# SCALING.md round-15).  The wave-14 sweep uses an md5-sampled panel of
# the same width for its unbiased variant.
_PANEL = 256

_RECALL_EVAL_CTES = f""",
    qn AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM embeddings
      WHERE vec_id > {_MID_BOUNDARY}
        AND vec_id <= {_PANEL} + {_MID_BOUNDARY}),
    dn AS MATERIALIZED (
      SELECT qn.vec_id, c.cell,
             SUM(CAST(FLOOR((qn.vq / 1000000.0 - c.c) * (qn.vq / 1000000.0 - c.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qn JOIN c5 c ON c.pos = qn.pos
      GROUP BY 1, 2),
    an1 AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, cell) AS cell
      FROM dn GROUP BY vec_id),
    an2 AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dfp, cell)
                 AS rnk
        FROM dn) t
      WHERE rnk <= {_NPROBE}),
    dfine AS MATERIALIZED (
      SELECT qn.vec_id, f.cell, f.sub,
             SUM(CAST(FLOOR((qn.vq / 1000000.0 - f.c) * (qn.vq / 1000000.0 - f.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qn JOIN an2 a ON a.vec_id = qn.vec_id
      JOIN fc f ON f.cell = a.cell AND f.pos = qn.pos
      GROUP BY 1, 2, 3),
    afine AS MATERIALIZED (
      SELECT vec_id, cell, FIRST(sub ORDER BY dfp, sub) AS sub
      FROM dfine GROUP BY vec_id, cell),
    nrm_s AS (SELECT vec_id, SUM(vq * vq) AS nn FROM q GROUP BY 1),
    nrm_n AS (SELECT vec_id, SUM(vq * vq) AS nn FROM qn GROUP BY 1),
    prx AS MATERIALIZED (
      SELECT a.vec_id AS id_new, a.cell, s.vec_id AS id_seen,
             SUM(qn.vq * qs.vq) AS dot
      FROM afine a
      JOIN mfin s ON s.cell = a.cell AND s.sub = a.sub
      JOIN qn ON qn.vec_id = a.vec_id
      JOIN q qs ON qs.vec_id = s.vec_id AND qs.pos = qn.pos
      GROUP BY 1, 2, 3),
    simx AS MATERIALIZED (
      SELECT id_new, cell,
             CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 10000.0 + 0.5)
                  AS BIGINT) AS cos_bp
      FROM prx
      JOIN nrm_n na ON na.vec_id = id_new
      JOIN nrm_s nb ON nb.vec_id = id_seen
      WHERE na.nn > 0 AND nb.nn > 0),
    hitsx AS MATERIALIZED (
      SELECT id_new, cell, COUNT(*) AS n
      FROM simx WHERE cos_bp >= {_SEMDEDUP_EPS_BP} GROUP BY 1, 2),
    h2 AS (SELECT id_new, SUM(n) AS n FROM hitsx GROUP BY 1),
    h1 AS (
      SELECT hx.id_new, hx.n
      FROM hitsx hx JOIN an1 a1
        ON a1.vec_id = hx.id_new AND a1.cell = hx.cell),
    tdot AS MATERIALIZED (
      SELECT qn.vec_id AS id_new, q.vec_id AS id_seen,
             SUM(qn.vq * q.vq) AS dot
      FROM qn JOIN q ON q.pos = qn.pos
      GROUP BY 1, 2),
    tsim AS MATERIALIZED (
      SELECT id_new,
             CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 10000.0 + 0.5)
                  AS BIGINT) AS cos_bp
      FROM tdot
      JOIN nrm_n na ON na.vec_id = id_new
      JOIN nrm_s nb ON nb.vec_id = id_seen
      WHERE na.nn > 0 AND nb.nn > 0),
    truth AS MATERIALIZED (
      SELECT id_new AS vec_id, COUNT(*) AS c
      FROM tsim WHERE cos_bp >= {_SEMDEDUP_EPS_BP} GROUP BY 1),
    tt AS (SELECT COUNT(*) AS tv, COALESCE(SUM(c), 0) AS tp FROM truth),
    v1 AS (SELECT COUNT(*) AS dv, COALESCE(SUM(n), 0) AS dp FROM h1),
    v2 AS (SELECT COUNT(*) AS dv, COALESCE(SUM(n), 0) AS dp FROM h2)
    SELECT CAST(variant AS VARCHAR) AS variant,
           CAST(tv AS BIGINT) AS n_truth_vecs,
           CAST(tp AS BIGINT) AS n_truth_pairs,
           CAST(dv AS BIGINT) AS n_detected_vecs,
           CAST(dp AS BIGINT) AS n_detected_pairs,
           CAST(CASE WHEN tv = 0 THEN 0 ELSE dv * 10000 // tv END
                AS BIGINT) AS vec_recall_bp,
           CAST(CASE WHEN tp = 0 THEN 0 ELSE dp * 10000 // tp END
                AS BIGINT) AS pair_recall_bp
    FROM (
      SELECT 'nprobe1' AS variant, v1.dv, v1.dp, tt.tv, tt.tp FROM v1, tt
      UNION ALL
      SELECT 'nprobe2' AS variant, v2.dv, v2.dp, tt.tv, tt.tp FROM v2, tt)
"""

_RECALL_EVAL_ORACLE = (
    _kmeans_cte(
        5,
        source=_SEEN_SRC,
        cell_expr=f"CAST(vec_id % {_K0_SQL} AS INT)",
    )
    + _SPLIT_CTES
    + _RECALL_EVAL_CTES
)


@query("semdedup_codebook_recall_eval", oracle=_RECALL_EVAL_ORACLE, wave=13)
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
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive

    seen = emb.filter(F.col("vec_id") <= F.lit(mid))
    lay = build_generation(spark, sf_dir, "rce", seen)
    coarse_tbl, fine_tbl, mem_tbl = lay.coarse, lay.fine, lay.members
    panel = emb.filter(
        (F.col("vec_id") > F.lit(mid))
        & (F.col("vec_id") <= F.lit(mid + _PANEL))
    ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))

    # brute-force truth: bounded panel broadcast against the seen half
    truth = truth_totals(
        seen.select(_quantize(F.col("embedding")).alias("vqs")), panel
    )
    stats = probe_stats(
        probe(spark, panel, coarse_tbl, fine_tbl, mem_tbl),
        F.lit("nprobe1").alias("variant"),
    ).unionByName(
        probe_stats(
            probe(
                spark, panel, coarse_tbl, fine_tbl, mem_tbl, nprobe=_NPROBE
            ),
            F.lit("nprobe2").alias("variant"),
        )
    )
    return score_recall(stats, truth, "variant")


semdedup_codebook_recall_eval.__doc__ = (
    semdedup_codebook_recall_eval.__doc__.format(panel=_PANEL, nprobe=_NPROBE)
)
