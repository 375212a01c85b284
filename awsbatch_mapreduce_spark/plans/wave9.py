"""Wave 9 (round 8): semantic dedup + persisted-index lifecycle.

Two capability rungs VERDICT r7 asked for:

1. ``semdedup_cluster_prune`` — SemDeDup-style cluster-then-dedup
   (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
   through semantic deduplication", arXiv:2303.09540): the dedup ladder
   already covers lexical duplicates (shingles/spans/prefix tokens) and
   HIGH-cosine duplicates (sign-LSH bands, whose collision probability
   1 - theta/pi per bit makes moderate-cosine pairs invisible); the
   missing rung is *semantic* near-dup at moderate cosine.  The public
   recipe is k-means cluster, then exact pairwise cosine WITHIN each
   cluster only — candidate generation is bucketed by cell, never
   all-pairs, which is what makes it tractable at web scale.

2. ``lsh_band_index_lifecycle`` — the production form of
   ``incremental_lsh_novelty``: the seen-side LSH band index is a
   PERSISTED bucketed table (write once, append per batch); a new
   batch's probe plan reads the index from disk and recomputes NO
   seen-side shingles/signatures, and — because the table is bucketed
   on the band key — the probe join reads the (large, growing) index
   side with no exchange: only the day's batch shuffles.

Both are oracle-gated: the SemDeDup oracle reuses the unrolled Lloyd
CTE chain (``plans.iterative._kmeans_cte``) so the cluster step cannot
drift from ``kmeans_embeddings``, and the lifecycle query shares
``incremental_lsh_novelty``'s oracle verbatim — the driver itself
proves the persisted-index path row-identical to the recompute path.

Reference parity note: the reference repo (161-line pandas/datashader
pipeline) has no dedup surface at all; these extend the LLM-pipeline
operator family the build brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.bands import (
    append_bands,
    fresh_band_index,
    probe_bands,
)
from awsbatch_mapreduce_spark.index.probe import (
    _NO_PEER_BP,
    _SEMDEDUP_EPS_BP,
    cos_bp,
    dot,
    norm2,
)
from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.operators.minhash import band_index_rows
from awsbatch_mapreduce_spark.plans.iterative import (
    _kmeans_cte,
    label_init_fit,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.plans.wave8 import _INCR_LSH_ORACLE
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
# wave-10 cell-sampled curve so the pair set can never drift between
# them.


def _semdedup_sim_cte(cell_rate: int | None = None) -> str:
    """``cell_rate`` (wave 10) restricts the pair pipeline to the
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
        _kmeans_cte(5)
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


@query("semdedup_cluster_prune", oracle=_SEMDEDUP_ORACLE, wave=9)
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
    wave-10 cell-sampled curve — when set, only vectors in md5-sampled
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


@query("semdedup_eps_retention_curve", oracle=_SEMDEDUP_CURVE_ORACLE, wave=9)
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
    """The curve tail shared by the full (wave 9) and cell-sampled
    (wave 10) eps-retention curves: per-vector max-cosine rollup over
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


# --- persisted LSH band-index lifecycle ----------------------------------


@query("lsh_band_index_lifecycle", oracle=_INCR_LSH_ORACLE, wave=9)
def lsh_band_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted band-index lifecycle: WRITE the seen half's LSH band
    index as a bucketed table (bucketed+sorted on the band key), in two
    generations — an initial build (first quarter of doc_ids) plus an
    APPEND (second quarter, "the day's batch") — then PROBE it with the
    new batch (upper half).  Same output and SAME ORACLE as
    ``incremental_lsh_novelty``, so the driver itself proves the
    persisted path row-identical to the recompute path; what changes is
    the physical story:

    - the probe plan contains ZERO seen-side shingle/signature
      recompute — the seen side is a parquet scan of the index table
      (pinned by ``tests/test_wave9.py``);
    - the table is bucketed on ``bk``, so the probe's band join reads
      the large, ever-growing index side with NO exchange; only the
      new batch's bands shuffle (into the table's bucket count).  At
      100 TB this is the difference between reshuffling the whole
      history every day and shuffling one day's crawl.

    Idempotent on a vanilla session called twice: catalog tables are
    dropped and rebuilt per call, data under a per-fixture scratch dir
    (never the fixture itself), stale generations age-swept — the
    ``bucketed_join_no_shuffle`` discipline.

    Scale shape: index build cost is one shingle->signature pass over
    the seen half (paid once, amortized over every future batch);
    append cost is one pass over the day's batch; probe shuffles only
    the new bands plus band-bucket collisions.  The table, its writes
    and the probe are ``index.bands``'s: the band probe and nn
    membership joins are data-scaled on both sides -> pinned sort-merge
    (``never_broadcast``); collision volume is bounded by the same band
    capacity argument as ``dedup_minhash_lsh_bucket_capped``.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2  # oracle: (MIN + MAX) // 2, ids positive
    q1 = (b.lo + mid) // 2  # initial-build/append boundary (plan-internal)

    bands = band_index_rows(docs).localCheckpoint()
    tbl = fresh_band_index(
        spark, sf_dir, "awsbatch_lsh_index", "lsh_band_idx_",
        rows=bands.filter(F.col("doc_id") <= F.lit(q1)),
    )
    # the day's batch: append the second quarter WITHOUT touching the
    # initial generation
    append_bands(
        bands.filter(
            (F.col("doc_id") > F.lit(q1)) & (F.col("doc_id") <= F.lit(mid))
        ),
        tbl,
    )
    return probe_bands(
        spark,
        bands.filter(F.col("doc_id") > F.lit(mid)),
        tbl,
        docs.filter(F.col("doc_id") > F.lit(mid)).select("doc_id"),
    )
