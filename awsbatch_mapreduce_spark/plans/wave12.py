"""Wave 12 (round 13, VERDICT r12 #4): the daily-append path on the
SURVIVING codebook design — ``semdedup_codebook_adaptive_append``.

The incremental semantic family so far: ``semdedup_codebook_novelty``
(wave 10) proved the persisted-index lifecycle — build once, bucketed
append, zero-seen-recompute probe — but over the FIXED-K layout whose
membership term grows linearly with the corpus (excluded from the 100x
ladder by code gate).  Waves 11's capacity/adaptive variants fixed the
probe asymptotics (two-level, members-per-fine-cell <= cap BY
CONSTRUCTION) but only as one-shot build+probe queries.  This wave
closes the matrix: the APPEND lifecycle on the ADAPTIVE two-level
layout, so the path a production pipeline actually runs every day at
100 TB — admit yesterday's batch into the persisted index WITHOUT a
refit, probe today's batch against the grown index — exercises the
design the 10x/100x ladder graduated.

Append semantics (the part that is NOT obvious): appended vectors must
not break the <= cap membership bound, and they must not require
touching existing fine cells.  Both follow from chunking the append
batch into NEW sub-cells: each appended vector is coarse-assigned via
the broadcast coarse codebook (no refit), ranked within its coarse
cell by (assign distance, vec_id) — the exact rank the BUILD used —
and chunked into sub-cells of <= cap starting AFTER the cell's
existing max sub.  New fine centroids (exact means of the new chunks,
same fixed-point arithmetic) are bucket-APPENDED to the fine codebook;
the member rows to the members table.  Existing fine cells, members,
and the coarse book are untouched — the append writes only
|batch|-derived rows, and the cap bound holds for the GROWN table by
construction (test-pinned).  Between refits the fine book grows by
ceil-grade |appended|/cap rows; the refit policy (recompute k0 =
ceil(sqrt(n/cap)) over the grown corpus) is the fit-time policy wave
11 measured — layout unchanged.

Probe cost against the grown index is unchanged in shape: k0 coarse
distances + (subs-in-cell) fine distances + <= cap membership cosines;
appends add subs at the linear rate the capacity split already prices.

Oracle: the adaptive Lloyd chain (``_kmeans_cte`` with the mod-init
cell expression) + the shared build-split CTEs (``wave11._SPLIT_CTES``
— textually the same split the driver proved in r12) + append CTEs
that mirror the Spark append step 1:1 (coarse argmin, per-cell rank,
sub offset via MAX(sub)+1, union'd fine book/members), + the probe
over the grown unions.  Fully SQL-expressible, so the driver's
value-hash gate covers the whole lifecycle.

Reference parity note: the reference repo (161-line pandas/datashader
pipeline, `local.py` / `Reduce.ps1`) has no dedup surface; this extends
the LLM-pipeline operator family the build brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import _CAP, _quantize
from awsbatch_mapreduce_spark.index.generation import (
    admit_batch,
    build_generation,
)
from awsbatch_mapreduce_spark.index.probe import (
    _NO_PEER_BP,
    _SEMDEDUP_EPS_BP,
    probe,
)
from awsbatch_mapreduce_spark.plans.iterative import _kmeans_cte
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.plans.wave11 import (
    _K0_SQL,
    _SEEN_SRC,
    _SPLIT_CTES,
)
from awsbatch_mapreduce_spark.sources.tables import load_table

# Corpus thirds by vec_id, matching the wave-10/11 halving convention:
# seen history = [lo, mid], yesterday's append batch = (mid, q3],
# today's probe batch = (q3, hi], with mid = (lo+hi)//2 and
# q3 = (mid+hi)//2 — all integer floor-division on positive ids, so
# the Spark scalars and the SQL subqueries agree exactly.
_MID_SQL = "(SELECT (MIN(vec_id) + MAX(vec_id)) // 2 FROM embeddings)"
_Q3_SQL = (
    "(SELECT ((MIN(vec_id) + MAX(vec_id)) // 2 + MAX(vec_id)) // 2"
    " FROM embeddings)"
)

# Append + grown-index probe CTEs.  Mirrors wave11._PROBE_CTES step
# for step, with three deltas: the batch boundary (mid, q3], the sub
# offset (MAX(sub)+1 per coarse cell — appended chunks never collide
# with build chunks), and every probe-side join reading the UNION of
# build + appended fine book / members / quantized components.
_APPEND_PROBE_CTES = f""",
    qa AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM embeddings
      WHERE vec_id > {_MID_SQL} AND vec_id <= {_Q3_SQL}),
    da AS MATERIALIZED (
      SELECT qa.vec_id, c.cell,
             SUM(CAST(FLOOR((qa.vq / 1000000.0 - c.c) * (qa.vq / 1000000.0 - c.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qa JOIN c5 c ON c.pos = qa.pos
      GROUP BY 1, 2),
    aa AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, cell) AS cell,
             FIRST(dfp ORDER BY dfp, cell) AS dfp
      FROM da GROUP BY vec_id),
    ra AS MATERIALIZED (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY dfp, vec_id)
               AS rn
      FROM aa),
    soff AS MATERIALIZED (
      SELECT cell, MAX(sub) + 1 AS base FROM mfin GROUP BY cell),
    mapp AS MATERIALIZED (
      SELECT r.vec_id, r.cell,
             CAST(COALESCE(s.base, 0) + (r.rn - 1) // {_CAP} AS INT) AS sub
      FROM ra r LEFT JOIN soff s ON s.cell = r.cell),
    fca AS MATERIALIZED (
      SELECT m.cell, m.sub, qa.pos,
             CAST(SUM(qa.vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM mapp m JOIN qa ON qa.vec_id = m.vec_id
      GROUP BY 1, 2, 3),
    fall AS MATERIALIZED (
      SELECT cell, sub, pos, c FROM fc
      UNION ALL SELECT cell, sub, pos, c FROM fca),
    mall AS MATERIALIZED (
      SELECT vec_id, cell, sub FROM mfin
      UNION ALL SELECT vec_id, cell, sub FROM mapp),
    qall AS MATERIALIZED (
      SELECT vec_id, pos, vq FROM q
      UNION ALL SELECT vec_id, pos, vq FROM qa),
    qp AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM embeddings
      WHERE vec_id > {_Q3_SQL}),
    dp AS MATERIALIZED (
      SELECT qp.vec_id, c.cell,
             SUM(CAST(FLOOR((qp.vq / 1000000.0 - c.c) * (qp.vq / 1000000.0 - c.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qp JOIN c5 c ON c.pos = qp.pos
      GROUP BY 1, 2),
    ap AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, cell) AS cell
      FROM dp GROUP BY vec_id),
    dfine AS MATERIALIZED (
      SELECT qp.vec_id, f.cell, f.sub,
             SUM(CAST(FLOOR((qp.vq / 1000000.0 - f.c) * (qp.vq / 1000000.0 - f.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qp JOIN ap ON ap.vec_id = qp.vec_id
      JOIN fall f ON f.cell = ap.cell AND f.pos = qp.pos
      GROUP BY 1, 2, 3),
    afine AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, sub) AS cell,
             FIRST(sub ORDER BY dfp, sub) AS sub
      FROM dfine GROUP BY vec_id),
    nrm_all AS (SELECT vec_id, SUM(vq * vq) AS nn FROM qall GROUP BY 1),
    nrm_p AS (SELECT vec_id, SUM(vq * vq) AS nn FROM qp GROUP BY 1),
    pr AS MATERIALIZED (
      SELECT a.vec_id AS id_new, s.vec_id AS id_seen,
             SUM(qp.vq * qs.vq) AS dot
      FROM afine a
      JOIN mall s ON s.cell = a.cell AND s.sub = a.sub
      JOIN qp ON qp.vec_id = a.vec_id
      JOIN qall qs ON qs.vec_id = s.vec_id AND qs.pos = qp.pos
      GROUP BY 1, 2),
    sim AS MATERIALIZED (
      SELECT id_new,
             CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 10000.0 + 0.5)
                  AS BIGINT) AS cos_bp
      FROM pr
      JOIN nrm_p na ON na.vec_id = id_new
      JOIN nrm_all nb ON nb.vec_id = id_seen
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
    FROM afine n LEFT JOIN agg a ON a.vec_id = n.vec_id
"""

_ADAPTIVE_APPEND_ORACLE = (
    _kmeans_cte(
        5,
        source=_SEEN_SRC,
        cell_expr=f"CAST(vec_id % {_K0_SQL} AS INT)",
    )
    + _SPLIT_CTES
    + _APPEND_PROBE_CTES
)


@query(
    "semdedup_codebook_adaptive_append",
    oracle=_ADAPTIVE_APPEND_ORACLE,
    wave=12,
)
def semdedup_codebook_adaptive_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Append-batch novelty over the ADAPTIVE two-level codebook — the
    daily-append lifecycle on the layout the 10x/100x ladder graduated
    (module docstring).  Three phases over the vec_id thirds:

    1. BUILD (amortized): the wave-11 adaptive fit over the seen third
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
    corpus) is the fit-time policy wave 11 measured on this same
    layout.

    Output: one row per probe vector — (vec_id, coarse cell, fine sub,
    count of seen-or-appended duplicates at cosine >= {eps} bp, max
    duplicate cosine, novelty flag).  Oracle-exact against the unrolled
    adaptive Lloyd chain + append + grown-probe CTE program.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive
    q3 = (mid + b.hi) // 2  # oracle: (mid + MAX) // 2

    lay = build_generation(
        spark, sf_dir, "app", emb.filter(F.col("vec_id") <= F.lit(mid))
    )

    # APPEND: the shared admission step (also the per-micro-batch body
    # of the streaming admission operator, streaming/codebook.py).
    batch = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    admit_batch(spark, batch, lay)

    # PROBE today's batch against the grown index — the shared wave-11
    # two-level probe, reading the appended generations transparently.
    today = emb.filter(F.col("vec_id") > F.lit(q3)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    return probe(spark, today, lay.coarse, lay.fine, lay.members)


semdedup_codebook_adaptive_append.__doc__ = (
    semdedup_codebook_adaptive_append.__doc__.format(
        cap=_CAP, eps=_SEMDEDUP_EPS_BP
    )
)
