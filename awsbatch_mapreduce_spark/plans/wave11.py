"""Wave 11 (round 10 VERDICT #1): the CAPACITY-BOUNDED semantic
codebook — the variant of ``semdedup_codebook_novelty`` whose index
size grows with the corpus at fit time so that members-per-cell is
hard-capped, instead of cells growing without bound under a fixed k.

Why the fixed-k probe cannot survive 100 TB: its membership check is
|batch| x cell-size by semantics, and with k pinned the cell size grows
linearly with the corpus — the one registered query whose 100 TB story
was documented-but-not-coded (VERDICT r9 #2 / r10 #1).  The naive fix —
run Lloyd with k = ceil(n/cap) and probe against that codebook —
re-quadratizes the ASSIGN step instead (|batch| x k = |batch| x n/cap
distance evaluations: at 100x rehearsal scale that is ~4e10 int ops,
strictly worse than the membership cost it removes), and plain Lloyd
gives no per-cell guarantee at all: a skewed corpus (the measured
1%-clique tiling funnels its whole clique into ONE cell) blows any
k-sizing argument.  So the scale path is TWO-LEVEL, the shape every
production IVF uses (FAISS's coarse quantizer + balanced lists):

- **Coarse level** (bounded): the existing label-init Lloyd fit over
  the seen half — the identical pipeline and identical unrolled oracle
  CTE (``iterative._kmeans_cte``) as ``kmeans_embeddings`` /
  ``semdedup_cluster_prune`` / ``semdedup_codebook_novelty``, so the
  cluster arithmetic keeps exactly one home.
- **Fine level** (grows at fit time): within each coarse cell, members
  are ranked by (final Lloyd distance, vec_id) and chunked into
  sub-cells of <= ``_CAP`` members; each sub-cell's centroid (the exact
  mean of its chunk, same fixed-point arithmetic) enters the persisted
  fine codebook.  Total fine cells = sum(ceil(cell_size/cap)) =
  ceil-grade n/cap — "k = ceil(n/cap) at fit time", with the cap
  guaranteed per cell BY CONSTRUCTION, not by hoping Lloyd balances.

Probe cost per new vector: k0 coarse distances (broadcast codebook,
bounded) + (coarse-cell subs ~ cell_size/cap) fine distances
(sort-merge against the persisted fine codebook — it grows with the
corpus, so it must never broadcast) + <= cap exact membership cosines.
The growing term is cell_size/cap — ``cap``x smaller than the fixed-k
probe's cell_size membership scan, which is what turns the 100x
rehearsal from "excluded by code gate" (fixed-k: ~1e10 dots measuring
the fixture's k) into a measured point (REHEARSAL_r11.jsonl).  The
production refit policy that removes the residual linear term is
growing the coarse level too (k0 -> sqrt(n/cap): per-probe cost
2*sqrt(n/cap)*d, sub-quadratic total) or recursing the split into a
tree; both are refit-time policies over this same persisted layout.

Novelty semantics under the split: a new vector is checked against the
members of its assigned FINE cell only.  SemDeDup novelty is
approximate at any k (duplicates straddling a cell boundary are missed
by the fixed-k probe too); the split trades a MEASURED recall cost for
the hard cost bound — on the fixture, 77.8% (sf0.001) / 82.5% (sf0.01)
of the fixed-k probe's duplicate verdicts survive at the deliberately
tight cap=16 (which splits 18-40-member cells 2-3 ways; production
caps of 512 cede far less), and every capacity hit is PROVABLY a
fixed-k hit — ``tests/test_wave11.py`` pins the subset property and
the recall floor.

Reference parity note: the reference repo (161-line pandas/datashader
pipeline, `local.py` / `Reduce.ps1`) has no dedup surface; this extends
the LLM-pipeline operator family the build brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import (
    _CAP,
    _mod_centroid_init,
    _quantize,
    label_centroid_init,
)
from awsbatch_mapreduce_spark.index.generation import build_generation
from awsbatch_mapreduce_spark.index.probe import (
    _NO_PEER_BP,
    _SEMDEDUP_EPS_BP,
    probe,
)
from awsbatch_mapreduce_spark.plans.iterative import _kmeans_cte
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

# The seen/new halves, split at (MIN+MAX)//2 of vec_id — identical to
# the fixed-k probe so the two variants answer the same question on the
# same batch and their hit sets are directly comparable.
_SEEN_SRC = (
    "(SELECT * FROM embeddings WHERE vec_id <="
    " (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 FROM embeddings))"
)

# Everything downstream of the Lloyd chain — capacity split, fine
# codebook, two-level probe assignment, exact membership cosine — is
# IDENTICAL between the label-coarse (capacity) and grown-coarse
# (adaptive) variants, so it has exactly one textual home.  Split in
# two (round 13): the BUILD section (final coarse centroids + the
# rank-chunk capacity split + fine codebook) is also the prefix of
# wave 12's append-batch oracle, whose probe boundary and grown-index
# CTEs differ — ``_FINE_TAIL`` is the concatenation, byte-identical to
# the r11-proven text.  ``cap`` parameterized in round 15 for the
# recall/cost sweep (wave 14); ``_split_ctes(_CAP)`` is sha-pinned
# byte-identical to the r11-proven constant in ``tests/test_wave13.py``.


def _split_ctes(cap: int) -> str:
    return f""",
    c5 AS MATERIALIZED (
      SELECT a.cell, q.pos,
             CAST(SUM(q.vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM a5 a JOIN q ON q.vec_id = a.vec_id
      GROUP BY 1, 2),
    r AS MATERIALIZED (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY dfp, vec_id)
               AS rn
      FROM a5),
    mfin AS MATERIALIZED (
      SELECT vec_id, cell, CAST((rn - 1) // {cap} AS INT) AS sub FROM r),
    fc AS MATERIALIZED (
      SELECT m.cell, m.sub, q.pos,
             CAST(SUM(q.vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM mfin m JOIN q ON q.vec_id = m.vec_id
      GROUP BY 1, 2, 3)"""


_SPLIT_CTES = _split_ctes(_CAP)

# The probe boundary as it appears (byte-for-byte) in the r11-proven
# oracle text: probe batch = everything past the seen half's midpoint.
# ``_probe_ctes`` parameterizes ONLY this subquery so wave 13's refit
# oracle (probe boundary = the grown corpus's 3/4 point) reuses the
# identical probe program instead of a divergent copy.
_MID_BOUNDARY = (
    "(SELECT (MIN(vec_id) + MAX(vec_id)) // 2\n"
    "                      FROM embeddings)"
)


def _probe_ctes(boundary_sql: str) -> str:
    """The two-level probe CTE program over a fitted index (requires
    the ``q``/``c5``/``mfin``/``fc`` CTEs of ``_kmeans_cte`` +
    ``_SPLIT_CTES`` upstream): probe batch = embeddings with
    ``vec_id > boundary_sql``, coarse argmin, fine argmin, exact
    membership cosine, novelty verdict.  ``_PROBE_CTES`` (the r11
    driver-proven text) is ``_probe_ctes(_MID_BOUNDARY)`` byte-for-
    byte — pinned in ``tests/test_wave13.py``."""
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
      SELECT vec_id, FIRST(cell ORDER BY dfp, cell) AS cell
      FROM dn GROUP BY vec_id),
    dfine AS MATERIALIZED (
      SELECT qn.vec_id, f.cell, f.sub,
             SUM(CAST(FLOOR((qn.vq / 1000000.0 - f.c) * (qn.vq / 1000000.0 - f.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qn JOIN an ON an.vec_id = qn.vec_id
      JOIN fc f ON f.cell = an.cell AND f.pos = qn.pos
      GROUP BY 1, 2, 3),
    afine AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, sub) AS cell,
             FIRST(sub ORDER BY dfp, sub) AS sub
      FROM dfine GROUP BY vec_id),
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
    FROM afine n LEFT JOIN agg a ON a.vec_id = n.vec_id
"""


_PROBE_CTES = _probe_ctes(_MID_BOUNDARY)

_FINE_TAIL = _SPLIT_CTES + _PROBE_CTES

_CODEBOOK_CAPACITY_ORACLE = _kmeans_cte(5, source=_SEEN_SRC) + _FINE_TAIL

# Adaptive coarse width: k0 = ceil(sqrt(ceil(n/cap))) at fit time, so
# BOTH levels grow with the corpus and per-probe work is
# ~2*sqrt(n/cap)*d + cap*d (sub-quadratic total), vs the label-coarse
# variant's k0-fixed n/(k0*cap) residual term.  The init is a
# deterministic mod-hash of vec_id (one mean per residue class) —
# expressible identically in both engines; ids are positive by fixture
# contract so % == pmod.  ``cap`` parameterized in round 15 for the
# wave-14 sweep; ``_k0_sql(_CAP)`` sha-pinned to the proven constant.


def _k0_sql(cap: int, src: str = _SEEN_SRC) -> str:
    return (
        f"(SELECT CAST(CEIL(SQRT(CEIL(COUNT(*) / {cap}.0))) AS BIGINT)"
        f" FROM {src} s0)"
    )


_K0_SQL = _k0_sql(_CAP)

_CODEBOOK_ADAPTIVE_ORACLE = (
    _kmeans_cte(
        5,
        source=_SEEN_SRC,
        cell_expr=f"CAST(vec_id % {_K0_SQL} AS INT)",
    )
    + _FINE_TAIL
)


def _build_probe(spark, sf_dir, kind, init_fn) -> DataFrame:
    """Shared build+probe of a capacity-split two-level codebook:
    ``kind`` prefixes the three persisted tables (``cap``/``ada``),
    ``init_fn(seen) -> (cell, centroid)`` is the coarse Lloyd init —
    the ONLY degree of freedom between the capacity and adaptive
    variants, mirroring the oracles' shared ``_FINE_TAIL``."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive

    lay = build_generation(
        spark, sf_dir, kind, emb.filter(F.col("vec_id") <= F.lit(mid)),
        init_fn=init_fn,
    )
    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    return probe(spark, new, lay.coarse, lay.fine, lay.members)


@query("semdedup_codebook_capacity", oracle=_CODEBOOK_CAPACITY_ORACLE, wave=11)
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
    return _build_probe(spark, sf_dir, "cap", label_centroid_init)


semdedup_codebook_capacity.__doc__ = semdedup_codebook_capacity.__doc__.format(
    cap=_CAP, eps=_SEMDEDUP_EPS_BP
)


@query("semdedup_codebook_adaptive", oracle=_CODEBOOK_ADAPTIVE_ORACLE, wave=11)
def semdedup_codebook_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refit policy the capacity variant documents, IMPLEMENTED:
    both levels of the persisted codebook grow with the corpus.  Coarse
    k0 = ceil(sqrt(ceil(n/cap))) at fit time (mod-hash init, Lloyd
    refined — 'the Lloyd CTE already parameterizes k'); fine level =
    the same <= {cap} rank-chunk split as ``semdedup_codebook_capacity``
    (shared ``_build_probe`` / shared ``_FINE_TAIL`` oracle text).

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
    return _build_probe(spark, sf_dir, "ada", _mod_centroid_init)


semdedup_codebook_adaptive.__doc__ = semdedup_codebook_adaptive.__doc__.format(
    cap=_CAP, eps=_SEMDEDUP_EPS_BP
)
