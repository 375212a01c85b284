"""Semantic dedup (SemDeDup) over the ``embeddings`` fixture.

1. ``semdedup_cluster_prune`` — SemDeDup-style cluster-then-dedup
   (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
   through semantic deduplication", arXiv:2303.09540): the lexical
   ladder (``plans/dedup.py``) covers shingle/span/prefix-token
   duplicates and sign-LSH bands cover HIGH-cosine duplicates (their
   collision probability 1 - theta/pi per bit makes moderate-cosine
   pairs invisible); this rung finds *semantic* near-dups at moderate
   cosine.  The public recipe is k-means cluster, then exact pairwise
   cosine WITHIN each cluster only — candidate generation is bucketed
   by cell, never all-pairs, which is what makes it tractable at web
   scale.  ``semdedup_eps_retention_curve`` prices the eps threshold.

2. ``semdedup_eps_curve_sampled`` — at 100 TB you price the SemDeDup
   eps threshold on a sample, not the full corpus.  The naive design
   (md5-bucket sample of DOCUMENTS, as the lexical ladder samples) is
   statistically wrong for a PAIR statistic: a duplicate survives the
   sample only if its peer does too, so pair density thins by rate^2
   while the denominator thins by rate, and the curve overstates
   retention — measured on the fixture: +31-33 retention points at a
   40% doc sample.  The unbiased estimator samples whole k-means CELLS
   (drop decisions are cell-local by construction — no pair ever
   crosses a cell — so sampled cells carry their EXACT pair
   structure): measured deviation <=1.6 retention points at a 50% cell
   sample on both fixture SFs (tolerance pinned by
   ``test_sampled_curve_tracks_full_curve_within_tolerance``).  The
   linear cluster step still sees the full corpus (it is needed for
   the eventual prune anyway); only the quadratic-ish intra-cell pair
   pass is priced on the sample.

3. ``semdedup_codebook_novelty`` — the semantic twin of the lexical
   ladder's persisted-index probe (``lsh_band_index_lifecycle``).
   The seen half's k-means codebook (final Lloyd centroids) and
   per-cell quantized members are PERSISTED once (members bucketed on
   cell); a new batch is assigned to cells via the broadcast codebook
   and checked by exact intra-cell cosine against persisted members
   only — zero seen-side recompute (pinned by plan test), only the
   day's batch shuffles.

All are oracle-gated: the oracles reuse the unrolled Lloyd CTE chain
(``plans.iterative._kmeans_cte``, over the seen half for the novelty
probe) so the cluster step cannot drift from ``kmeans_embeddings``,
the sampled curve reuses the shared sim CTE with the cell filter
(``_semdedup_sim_cte(cell_rate)``), and the novelty oracle reuses the
exact-int cosine recipe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.codebook import (
    _exact_means,
    _quantize,
    assign_to_cells_collected,
    kmeans_fit,
    label_centroid_init,
)
from awsbatch_mapreduce_spark.index.probe import (
    _NO_PEER_BP,
    _SEMDEDUP_EPS_BP,
    cos_bp,
    dot,
    norm2,
    verdicts,
)
from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.plans.iterative import _kmeans_cte, label_init_fit
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.scratch import _scratch_dir, _scratch_tag, drop_tables
from awsbatch_mapreduce_spark.sources.tables import load_table


# --- SemDeDup: cluster-then-exact-cosine prune ---------------------------

# Bounded-cell shard cap: a cell larger than this is deterministically
# sharded (md5 of vec_id mod ceil(n/cap)) and pairwise cosine runs
# within shards only.  Production SemDeDup keeps cells bounded by
# growing k with the corpus (~100k clusters for ~100M docs); with k
# fixed by the oracle contract, the shard is the in-plan equivalent —
# per-shard work is <= ~cap^2 regardless of corpus shape, so candidate
# volume is linear in n (n/cap shards x cap^2), never (n/k)^2.  Below
# the cap the query IS exact SemDeDup (every fixture cell is a single
# shard); above it, cross-shard pairs inside one mega-cell are ceded —
# the same documented trade as ``dedup_minhash_lsh_bucket_capped``.
_CELL_CAP = 512


# CTE chain through ``sim`` (id_a, id_b, cos_bp over intra-shard
# pairs) — shared by the prune query, the eps-retention curve, and the
# cell-sampled curve so the pair set can never drift between
# them.


def _semdedup_sim_cte(cell_rate: int | None = None) -> str:
    """``cell_rate`` restricts the pair pipeline to the
    k-means CELLS whose md5 bucket falls under the rate — whole-cell
    sampling, the unbiased estimator for the retention curve (drop
    decisions are cell-local by construction, so sampled cells carry
    their EXACT pair structure; per-document sampling thins pairs
    quadratically and overstates retention — measured at +31-33%
    retention on a 40% doc sample vs <=1.6% deviation for 50% cell
    sampling, SCALING.md round 9)."""
    base = "a5" if cell_rate is None else "a5s"
    sampled = (
        f""",
    a5s AS MATERIALIZED (
      SELECT * FROM a5
      WHERE ('0x' || substr(md5(CAST(cell AS VARCHAR)), 1, 8))::UBIGINT
            % 100 < {cell_rate})"""
        if cell_rate is not None
        else ""
    )
    return (
        _kmeans_cte()
        + sampled
        + f""",
    nrm AS MATERIALIZED (SELECT vec_id, SUM(vq * vq) AS nn FROM q GROUP BY 1),
    sz AS MATERIALIZED (SELECT cell, CAST(CEIL(COUNT(*) / {_CELL_CAP}.0) AS BIGINT) AS nsub
           FROM {base} GROUP BY 1),
    sb AS MATERIALIZED (
      SELECT a.vec_id, a.cell,
             CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8))::UBIGINT
                  % s.nsub AS BIGINT) AS sub
      FROM {base} a JOIN sz s ON s.cell = a.cell),
    pr AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(qa.vq * qb.vq) AS dot
      FROM sb a JOIN sb b
        ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
      JOIN q qa ON qa.vec_id = a.vec_id
      JOIN q qb ON qb.vec_id = b.vec_id AND qb.pos = qa.pos
      GROUP BY 1, 2),
    sim AS MATERIALIZED (
      SELECT id_a, id_b,
             CAST(FLOOR(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 10000.0 + 0.5)
                  AS BIGINT) AS cos_bp
      FROM pr
      JOIN nrm na ON na.vec_id = id_a
      JOIN nrm nb ON nb.vec_id = id_b
      WHERE na.nn > 0 AND nb.nn > 0)"""
    )


_SEMDEDUP_SIM_CTE = _semdedup_sim_cte()


_SEMDEDUP_ORACLE = (
    _SEMDEDUP_SIM_CTE
    + f""",
    dup AS MATERIALIZED (
      SELECT id_b AS vec_id, COUNT(*) AS n_dup_lower, MAX(cos_bp) AS max_cos_bp
      FROM sim WHERE cos_bp >= {_SEMDEDUP_EPS_BP} GROUP BY 1)
    SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
           CAST(a.cell AS INT) AS cell,
           CAST(COALESCE(d.n_dup_lower, 0) AS BIGINT) AS n_dup_lower,
           CAST(COALESCE(d.max_cos_bp, {_NO_PEER_BP}) AS BIGINT) AS max_cos_bp,
           CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS dropped
    FROM a5 a LEFT JOIN dup d ON d.vec_id = a.vec_id
"""
)


@query("semdedup_cluster_prune", oracle=_SEMDEDUP_ORACLE)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cluster the embedding
    corpus (the exact 5-iteration Lloyd pipeline of
    ``kmeans_embeddings`` — shared code AND shared unrolled oracle),
    then compute EXACT pairwise cosine only WITHIN each cell (sharded
    at {cap} members — see Scale shape) and prune greedily by id: a
    vector is dropped when some lower-id vector in the same cell shard
    has cosine >= {eps} bp.  Output is the per-vector
    retention decision (cell, lower-id duplicate count, max duplicate
    cosine, dropped flag) — the frame a curation pipeline anti-joins
    against, one row per vector.

    Determinism: the cluster step is integer-quantized Lloyd (see
    ``plans.iterative``); the cosine reuses the exact-int dot/norm
    recipe of ``embedding_label_outliers`` at the kmeans 1e-6
    quantization — floats only at the final sqrt/divide over identical
    int64 operands in both engines, rounded once to bp.  Greedy-by-id
    is order-independent (drop iff ANY lower-id peer exceeds eps —
    kept/dropped status of the peer deliberately does not matter, so
    no sequential dependency exists).

    Scale shape: candidate generation is bucketed by (cell, shard) —
    NEVER all-pairs: cells above {cap} members are deterministically
    sharded (md5(vec_id) mod ceil(n/{cap})), so per-shard pairwise
    work is <= ~{cap}^2 by construction and total candidate volume is
    LINEAR in the corpus (see ``_CELL_CAP``; below the cap the shard
    is the whole cell and the semantics are exact SemDeDup).  Both
    pair-join sides are O(corpus) -> ``never_broadcast``-pinned (the
    r5 OOM class); dot products stay in-array (zip_with over the
    quantized vectors, no component explode on the pair path); the
    final retention join is digest-thin (vec_id, two ints); the
    per-cell size frame is k rows — bounded — and broadcasts.
    """
    m, sim = _semdedup_sim(spark, sf_dir)
    dup = (
        sim.filter(F.col("cos_bp") >= F.lit(_SEMDEDUP_EPS_BP))
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_lower"),
            F.max("cos_bp").alias("max_cos_bp"),
        )
        .withColumn("hit", F.lit(1))
    )
    return (
        m.select("vec_id", "cell")
        .join(never_broadcast(dup), "vec_id", "left")
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "cell",
            F.coalesce("n_dup_lower", F.lit(0))
            .cast("bigint")
            .alias("n_dup_lower"),
            F.coalesce("max_cos_bp", F.lit(_NO_PEER_BP))
            .cast("bigint")
            .alias("max_cos_bp"),
            F.when(F.col("hit").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("dropped"),
        )
    )


def _semdedup_sim(
    spark: SparkSession, sf_dir: str, cell_rate: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """The shared SemDeDup pair pipeline: returns ``(m, sim)`` where
    ``m`` is the per-vector frame (vec_id, cell, sub, vq, nn) and
    ``sim`` the intra-(cell, shard) lower-id pair frame (id_a, id_b,
    cos_bp).  Mirrors ``_semdedup_sim_cte`` exactly; consumed by the
    prune query, the eps-retention curve, and (with ``cell_rate``) the
    cell-sampled curve — when set, only vectors in md5-sampled
    CELLS enter the pair pipeline, so the quadratic-ish pair pass is
    priced on the sample while the (linear, already-measured) cluster
    step still sees the full corpus."""
    assigned = label_init_fit(load_table(spark, sf_dir, "embeddings"))
    if cell_rate is not None:
        from awsbatch_mapreduce_spark.plans.sampling import md5_bucket

        assigned = assigned.filter(md5_bucket(F.col("cell"), 100) < cell_rate)
    sizes = assigned.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(float(_CELL_CAP)))
        .cast("bigint")
        .alias("nsub")
    )
    m = (
        assigned.select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            "vq",
            norm2("vq").alias("nn"),
        )
        .join(F.broadcast(sizes.select(F.col("cell").cast("int").alias("cell"), "nsub")), "cell")
        .withColumn(
            "sub",
            (
                F.conv(
                    F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % F.col("nsub")
            ).cast("bigint"),
        )
    )
    pa = m.select(
        F.col("vec_id").alias("id_a"),
        "cell",
        "sub",
        F.col("vq").alias("vq_a"),
        F.col("nn").alias("nn_a"),
    )
    pb = m.select(
        F.col("vec_id").alias("id_b"),
        F.col("cell").alias("cell_b"),
        F.col("sub").alias("sub_b"),
        F.col("vq").alias("vq_b"),
        F.col("nn").alias("nn_b"),
    )
    sim = (
        pa.join(
            never_broadcast(pb),
            (F.col("cell") == F.col("cell_b"))
            & (F.col("sub") == F.col("sub_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter((F.col("nn_a") > 0) & (F.col("nn_b") > 0))
        .select(
            "id_a",
            "id_b",
            cos_bp(dot(F.col("vq_a"), F.col("vq_b")), "nn_a", "nn_b").alias(
                "cos_bp"
            ),
        )
    )
    return m, sim


semdedup_cluster_prune.__doc__ = semdedup_cluster_prune.__doc__.format(
    eps=_SEMDEDUP_EPS_BP, cap=_CELL_CAP
)


# --- SemDeDup eps-retention curve ----------------------------------------

_SEMDEDUP_EPS_GRID = [2000, 2500, 3000, 3500, 4000]


def _semdedup_curve_oracle(cell_rate: int | None = None) -> str:
    """Full (``cell_rate=None``) or cell-sampled curve oracle: the
    shared sim CTE plus the curve tail; the retention denominator is
    the (sampled) corpus the pair pipeline actually ran over."""
    base = "a5" if cell_rate is None else "a5s"
    return (
        _semdedup_sim_cte(cell_rate)
        + f""",
    mx AS (SELECT id_b AS vec_id, MAX(cos_bp) AS mx FROM sim GROUP BY 1),
    t AS (SELECT COUNT(*) AS n_total FROM {base}),
    eps AS (SELECT UNNEST([{", ".join(str(e) for e in _SEMDEDUP_EPS_GRID)}])
              AS eps_bp),
    d AS (
      SELECT e.eps_bp,
             SUM(CASE WHEN m.mx >= e.eps_bp THEN 1 ELSE 0 END) AS n_dropped
      FROM eps e CROSS JOIN mx m GROUP BY 1)
    SELECT CAST(d.eps_bp AS BIGINT) AS eps_bp,
           CAST(d.n_dropped AS BIGINT) AS n_dropped,
           CAST(t.n_total AS BIGINT) AS n_total,
           CAST((t.n_total - d.n_dropped) * 1000000 // t.n_total AS BIGINT)
             AS retention_ppm
    FROM d CROSS JOIN t
"""
    )


_SEMDEDUP_CURVE_ORACLE = _semdedup_curve_oracle()


@query("semdedup_eps_retention_curve", oracle=_SEMDEDUP_CURVE_ORACLE)
def semdedup_eps_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration curve for the SemDeDup rung: corpus
    retention at eps in {grid} bp, computed from ONE pass over the
    shared intra-shard pair frame (``_semdedup_sim`` — identical
    pipeline and oracle CTE as ``semdedup_cluster_prune``, so the
    curve prices exactly the operator that would run).  The operational
    question it answers is the SemDeDup paper's figure-1: how much
    corpus survives as eps tightens — picked BEFORE committing a
    full-corpus prune, the same role ``shingle_df_cap_curve`` and
    ``jaccard_threshold_curve`` play for the lexical ladder.

    Output: one row per eps (n_dropped, n_total, retention_ppm in
    exact integer ppm).

    Scale shape: the pair pipeline's cost (linear, shard-bounded —
    measured in REHEARSAL_r8) plus a per-vector max rollup; the
    {n_eps}-row eps grid is a literal broadcast frame crossed against
    the per-vector maxima (|corpus| x {n_eps} thin rows, map-side
    aggregated), and the 1-row total is a broadcast scalar — no
    corpus-sized sort or extra shuffle beyond the shared pipeline's.
    """
    _, sim = _semdedup_sim(spark, sf_dir)
    t = load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    return retention_curve_frame(spark, sim, t)


def retention_curve_frame(
    spark: SparkSession, sim: DataFrame, t: DataFrame
) -> DataFrame:
    """The curve tail shared by the full and cell-sampled
    eps-retention curves: per-vector max-cosine rollup over
    ``sim``, crossed with the literal eps grid and the 1-row total
    frame ``t`` — identical output schema, so the two curves cannot
    drift structurally."""
    mx = sim.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.max("cos_bp").alias("mx")
    )
    eps = spark.createDataFrame(
        [(e,) for e in _SEMDEDUP_EPS_GRID], "eps_bp bigint"
    )
    d = (
        mx.crossJoin(F.broadcast(eps))
        .groupBy("eps_bp")
        .agg(
            F.sum(
                F.when(F.col("mx") >= F.col("eps_bp"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("n_dropped")
        )
    )
    return d.crossJoin(F.broadcast(t)).select(
        F.col("eps_bp").cast("bigint").alias("eps_bp"),
        "n_dropped",
        F.col("n_total").cast("bigint").alias("n_total"),
        F.expr(
            "CAST((n_total - n_dropped) * 1000000 div n_total AS BIGINT)"
        ).alias("retention_ppm"),
    )


semdedup_eps_retention_curve.__doc__ = semdedup_eps_retention_curve.__doc__.format(
    grid="{" + ", ".join(str(e) for e in _SEMDEDUP_EPS_GRID) + "}",
    n_eps=len(_SEMDEDUP_EPS_GRID),
)


# --- cell-sampled eps-retention curve ------------------------------------

# md5 bucket rate (percent) for CELL sampling.  50 keeps 6 of the
# fixture's 10 cells (~290-310 vectors); measured curve deviation vs
# the full corpus: <=14,693 ppm (sf0.001) / <=15,463 ppm (sf0.01) —
# under 1.6 retention points, vs 190,000-326,000 ppm for doc-sampling
# at comparable rates.
_SEMDEDUP_CELL_RATE = 50


@query(
    "semdedup_eps_curve_sampled",
    oracle=_semdedup_curve_oracle(_SEMDEDUP_CELL_RATE),
)
def semdedup_eps_curve_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup eps calibration on a deterministic 50% CELL sample:
    cluster the full corpus (linear — the step a prune needs anyway),
    keep only cells whose md5 bucket < {rate}, run the exact intra-cell
    pair pipeline on those cells alone, and report the same
    (eps_bp, n_dropped, n_total, retention_ppm) curve as
    ``semdedup_eps_retention_curve`` with the SAMPLE as denominator.

    Why cells, not documents: retention is a PAIR statistic.  A
    md5-sampled document set thins pairs by rate^2 against a
    denominator thinned by rate, overstating retention (measured
    +31-33 points at 40% doc-sampling on the fixture).  Cell sampling
    is cluster sampling: no pair crosses a cell, so each sampled cell
    contributes its exact pair structure and the estimator is unbiased
    over the cell draw — measured <=1.6 points deviation at both
    fixture SFs (tolerance test-pinned vs the full curve).

    Scale shape: identical to the full curve's (shared
    ``_semdedup_sim`` pipeline — shard-capped, ``never_broadcast``
    pair join, in-array dot products) except the pair pass runs over
    ~rate% of cells: at 100 TB the calibration costs ~rate% of the
    prune's candidate volume while the cluster step is the linear
    pass already measured in SCALING.md round 8.  The sample is
    deterministic (md5 of the cell id), so the curve is reproducible
    and DuckDB-oracle-checkable end to end.
    """
    m, sim = _semdedup_sim(spark, sf_dir, cell_rate=_SEMDEDUP_CELL_RATE)
    t = m.agg(F.count(F.lit(1)).alias("n_total"))
    return retention_curve_frame(spark, sim, t)


semdedup_eps_curve_sampled.__doc__ = semdedup_eps_curve_sampled.__doc__.format(
    rate=_SEMDEDUP_CELL_RATE
)


# --- persisted semantic codebook: incremental novelty probe ---------------

_CODEBOOK_NOVELTY_ORACLE = (
    _kmeans_cte(
        source=(
            "(SELECT * FROM embeddings WHERE vec_id <="
            " (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 FROM embeddings))"
        ),
    )
    + f""",
    c5 AS MATERIALIZED (
      SELECT a.cell, q.pos,
             CAST(SUM(q.vq) AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
      FROM a5 a JOIN q ON q.vec_id = a.vec_id
      GROUP BY 1, 2),
    qn AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM embeddings
      WHERE vec_id > (SELECT (MIN(vec_id) + MAX(vec_id)) // 2
                      FROM embeddings)),
    dn AS MATERIALIZED (
      SELECT qn.vec_id, c.cell,
             SUM(CAST(FLOOR((qn.vq / 1000000.0 - c.c) * (qn.vq / 1000000.0 - c.c)
                            * 1000000000000.0 + 0.5) AS BIGINT)) AS dfp
      FROM qn JOIN c5 c ON c.pos = qn.pos
      GROUP BY 1, 2),
    an AS MATERIALIZED (
      SELECT vec_id, FIRST(cell ORDER BY dfp, cell) AS cell
      FROM dn GROUP BY vec_id),
    nrm_s AS (SELECT vec_id, SUM(vq * vq) AS nn FROM q GROUP BY 1),
    nrm_n AS (SELECT vec_id, SUM(vq * vq) AS nn FROM qn GROUP BY 1),
    pr AS MATERIALIZED (
      SELECT n.vec_id AS id_new, s.vec_id AS id_seen,
             SUM(qn.vq * qs.vq) AS dot
      FROM an n JOIN a5 s ON s.cell = n.cell
      JOIN qn ON qn.vec_id = n.vec_id
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
           CAST(COALESCE(a.n_seen_dups, 0) AS BIGINT) AS n_seen_dups,
           CAST(COALESCE(a.max_cos_bp, {_NO_PEER_BP}) AS BIGINT) AS max_cos_bp,
           CAST(CASE WHEN a.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_novel
    FROM an n LEFT JOIN agg a ON a.vec_id = n.vec_id
"""
)


@query("semdedup_codebook_novelty", oracle=_CODEBOOK_NOVELTY_ORACLE)
def semdedup_codebook_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic novelty against a PERSISTED codebook: the
    seen half (vec_id <= mid) is k-means-clustered once (the exact
    ``semdedup_cluster_prune`` Lloyd pipeline, k from the label init) and persisted as two
    tables — the final codebook (k rows) and the per-cell quantized
    members (bucketed on cell, written in two generations: initial
    build + a bucketed APPEND of the second quarter, the per-batch
    admission path between codebook refits); the new batch (vec_id >
    mid) is then
    assigned to cells via the broadcast codebook and checked by EXACT
    intra-cell cosine against persisted members only.  Output: one row
    per new vector — (cell, count of seen duplicates at cosine >=
    {eps} bp, max duplicate cosine, is_novel flag) — the semantic twin
    of ``lsh_band_index_lifecycle``'s lexical probe, completing the
    batch/incremental symmetry for the semantic dedup ladder.

    Zero seen-side recompute (test-pinned): the probe plan's seen side
    is parquet scans of the two persisted tables — no Lloyd iteration,
    no posexplode, no centroid arithmetic.  At 100 TB this converts
    "re-cluster history every day" into one amortized build plus a
    per-batch probe, exactly as the band index did for MinHash.

    Determinism: same integer-quantized arithmetic as
    ``semdedup_cluster_prune``
    (components at 1e-6, squared distances at 1e-12, cosine rounded
    once to bp; the only floats are single IEEE ops over identical
    operands in both engines), so the persisted path is oracle-exact
    against the unrolled seen-half Lloyd CTE.

    Scale shape: probe cost is |batch| x k for assignment (codebook
    broadcast — k rows, bounded) plus |batch| x avg-cell-size for the
    membership check — the IVF-probe cost model (``ann_ivf_topk``),
    with the members join bucketed on cell so the (large, growing)
    seen side never exchanges; only the day's batch shuffles.  The
    members join is data-scaled on the seen side -> pinned sort-merge
    (``never_broadcast``).  Production bounds cell size by growing k
    with the corpus; k is fixed here by the shared-oracle contract
    (same documented trade as ``semdedup_cluster_prune``'s shard cap).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive

    tag = _scratch_tag(sf_dir)
    base = _scratch_dir("awsbatch_semdedup_idx", sf_dir)
    mem_tbl = f"semdedup_members_{tag}"
    cb_tbl = f"semdedup_codebook_{tag}"
    drop_tables(spark, "semdedup_members_", "semdedup_codebook_")

    seen = emb.filter(F.col("vec_id") <= F.lit(mid))
    assigned, _ = kmeans_fit(
        seen.select("vec_id", "embedding"), label_centroid_init(seen)
    )
    # the BUILD (amortized, once per corpus generation): final Lloyd
    # codebook + per-cell quantized members with precomputed norms
    (
        _exact_means(assigned, "cell")
        .write.option("path", os.path.join(base, cb_tbl))
        .mode("overwrite")
        .saveAsTable(cb_tbl)
    )
    members_frame = assigned.select(
        F.col("vec_id").alias("seen_id"),
        F.col("cell").cast("int").alias("cell"),
        F.col("vq").alias("vq_s"),
        norm2("vq").alias("nn_s"),
    )
    # two generations, as the band index does: initial build (first
    # quarter of vec_ids) + a bucketed APPEND of the second quarter
    # ("yesterday's admitted batch") — the per-batch admission path a
    # production pipeline runs between codebook refits; the bucket
    # spec must match the table's, so the probe keeps reading the
    # grown index exchange-free
    q1 = (b.lo + mid) // 2  # plan-internal build/append boundary
    (
        members_frame.filter(F.col("seen_id") <= F.lit(q1))
        .write.bucketBy(8, "cell")
        .sortBy("cell")
        .option("path", os.path.join(base, mem_tbl))
        .mode("overwrite")
        .saveAsTable(mem_tbl)
    )
    (
        members_frame.filter(F.col("seen_id") > F.lit(q1))
        .write.bucketBy(8, "cell")
        .sortBy("cell")
        .mode("append")
        .saveAsTable(mem_tbl)
    )
    # the build is on disk; the probe reads only the tables, so the
    # fit's cached assignment frame would otherwise stay pinned for
    # the session (one dead copy per builder call under bench's reps)
    assigned.unpersist()

    # the PROBE (per batch): assign via broadcast codebook, exact
    # cosine against persisted members of the assigned cell only
    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    assigned_new = assign_to_cells_collected(new, spark.table(cb_tbl)).select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        "vq",
        norm2("vq").alias("nn_n"),
    )
    pairs = assigned_new.join(never_broadcast(spark.table(mem_tbl)), "cell")
    return verdicts(pairs, assigned_new.select("vec_id", "cell"))


semdedup_codebook_novelty.__doc__ = semdedup_codebook_novelty.__doc__.format(
    eps=_SEMDEDUP_EPS_BP
)
