"""The probe operator: check a quantized batch against a persisted
two-level index, over full vectors or PQ codes.

One program serves every probe of the index family — the registered
queries, the streaming admission, the pointer reader and the recall
evals:

1. **Assign**: coarse-assign each (vec_id, vq) batch vector to its
   ``nprobe`` nearest coarse cells against the collected bounded
   codebook, then take the fine argmin per (vec_id, rank) with a
   struct-min AGGREGATE (the argmin-as-aggregate discipline: a
   row_number window here exchanged every candidate WITH its 64-int vq
   array, ~30 GB at 100x, straggler-stalled).
2. **Candidates**: the batch/member pairs the index makes visible.
   *Full-vector*: the membership join over the probed ``(cell, sub)``
   cells.  *ADC* (``codes`` given): asymmetric distance over the
   probed cells' PQ codes, the top-``_PQ_RERANK`` per vector re-ranked,
   their full vectors fetched on the members' own bucket keys.
3. **Verify**: exact integer cosine (``cos_bp``) at ``>=
   _SEMDEDUP_EPS_BP``, duplicate stats per vector, reported against the
   PRIMARY (rank-1) cell/sub: ``(vec_id, cell, sub, n_seen_dups,
   max_cos_bp, is_novel)``.

A seen member lives in exactly one (cell, sub) and one vector's probed
cells are distinct, so no pair is counted twice over the union.  The
growing fine book, members and codes sides stay ``never_broadcast``
sort-merge joins reading their bucket specs.  ``members`` may be the
raw members table or its live view (``generation.live_view``): the
probe reads whatever relation it is given.

The brute-force recall truth (``truth_totals``) and the stats the
recall evals score (``probe_stats``, ``score_recall``) use the same
integer cosine, so truth and probe can never disagree on a cosine
value — only on which pairs the index made visible.  This module
imports no ``plans`` module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.index.codebook import (
    _PQ_SUB,
    _sq_dist_fp,
    _vq4,
    assign_to_cells_collected,
    assign_topk_cells_collected,
    norm2,
)
from awsbatch_mapreduce_spark.index.generation import (
    generation_layout,
    live_view,
    read_pointer,
)
from awsbatch_mapreduce_spark.operators.hints import never_broadcast

# Moderate-cosine threshold in basis points.  The fixture's intra-label
# cosine distribution (both SFs: median ~0.00, p90 ~0.16, p99 ~0.29,
# max ~0.47) puts 0.30 at the ~p99 tail, so the prune is non-vacuous at
# sf0.001 AND sf0.01 while staying far below the sign-LSH ladder's
# high-cosine regime — exactly the band this rung exists to cover.
_SEMDEDUP_EPS_BP = 3000
# sentinel for "no duplicate peer": below the cosine floor (-10000 bp)
_NO_PEER_BP = -10001
_PQ_RERANK = 4  # ADC candidates re-ranked exactly, per probed vector


def dot(a: Column, b: Column) -> Column:
    """Dot product of two quantized vectors, as an exact bigint."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def cos_bp(dot_col: Column, nn_a: str, nn_b: str) -> Column:
    """The integer-cosine verdict in basis points,
    ``floor(dot / (sqrt(nn_a) * sqrt(nn_b)) * 1e4 + 0.5)`` — the one
    rounding every probe, truth pass and SemDeDup rung compares against
    ``_SEMDEDUP_EPS_BP``.  Callers filter ``nn_a > 0 and nn_b > 0``."""
    return F.floor(
        dot_col / (F.sqrt(nn_a) * F.sqrt(nn_b)) * F.lit(10000.0) + F.lit(0.5)
    ).cast("bigint")


def _assign(spark, new: DataFrame, coarse: str, fine: str, nprobe: int):
    """(vec_id, vq) -> (vec_id, rnk, cell, sub, vq, nn_n): the
    ``nprobe`` nearest coarse cells (rank 1..nprobe by ascending
    (d_fp, cell)) and the fine argmin within each."""
    if nprobe == 1:
        # nprobe=1 keeps the argmin form and groups by vec_id alone;
        # rnk is the literal 1, so the callers' rank-1 filter folds
        # away.  The rank-k form at nprobe=1 returns the same rows but
        # a worse plan: its (vec_id, rnk) partitioning does not satisfy
        # the final join on vec_id (one more exchange in the static
        # plan), and the pushed-down rank filter makes the assignment's
        # two consumers differ, so their ReusedExchange is lost (5 -> 7
        # executed exchanges on codebook_tombstone_probe).
        coarse_new = assign_to_cells_collected(new, spark.table(coarse))
        keys, rnk = ["vec_id"], F.lit(1)
    else:
        coarse_new = assign_topk_cells_collected(
            new, spark.table(coarse), nprobe
        )
        keys, rnk = ["vec_id", "rnk"], F.col("rnk")
    return (
        coarse_new.select(
            "vec_id", "vq", F.col("cell").cast("int").alias("cell"), *keys[1:]
        )
        .join(never_broadcast(spark.table(fine)), "cell")
        .select(
            *keys,
            "vq",
            "cell",
            "sub",
            _sq_dist_fp(F.col("vq"), F.col("centroid")).alias("d_fp"),
        )
        .groupBy(*keys)
        .agg(
            F.first("vq").alias("vq"),
            F.first("cell").alias("cell"),  # constant per (vec, rank)
            F.min(F.struct(F.col("d_fp"), F.col("sub"))).alias("b"),
        )
        .select(
            "vec_id",
            rnk.alias("rnk"),
            "cell",
            F.col("b.sub").alias("sub"),
            "vq",
            norm2("vq").alias("nn_n"),
        )
    )


def _adc_candidates(
    spark, new, assigned, members: str, codes: str, pqcb: str
) -> DataFrame:
    """ADC over the probed cells' CODES (<= cap * subspaces one-int
    rows per probed cell — full vectors never enter this join), the
    top-``_PQ_RERANK`` per vector, their full vectors fetched from the
    members ON ITS (cell, sub) BUCKET KEYS (a seen_id-keyed fetch would
    exchange the corpus-scale members side per batch).  The PQ codebook
    is the PERSISTED bounded table — never recomputed from the
    members."""
    pcb = spark.table(pqcb)  # k x subspaces x dims rows: bounded
    psub = new.select(
        "vec_id", F.posexplode("vq").alias("pos", "v")
    ).select(
        "vec_id",
        (F.col("pos") / _PQ_SUB).cast("int").alias("sm"),
        (F.col("pos") % _PQ_SUB).alias("sj"),
        _vq4(F.col("v")).alias("vq4"),
    )
    pdist = (
        psub.join(F.broadcast(pcb), ["sm", "sj"])
        .groupBy("vec_id", "sm", F.col("k").alias("code"))
        .agg(
            F.sum(
                (F.col("vq4") - F.col("cq")) * (F.col("vq4") - F.col("cq"))
            ).alias("d")
        )
    )
    adc = (
        assigned.select("vec_id", "cell", "sub")
        .join(never_broadcast(spark.table(codes)), ["cell", "sub"])
        .join(pdist, ["vec_id", "sm", "code"])
        .groupBy(
            "vec_id", "cell", "sub", F.col("seen_id").alias("id_seen")
        )
        .agg(F.sum("d").alias("adc_d"))
    )
    rr = (
        adc.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.asc("adc_d"), F.asc("id_seen")
                )
            ),
        )
        .filter(F.col("rk") <= _PQ_RERANK)
        .select("vec_id", "cell", "sub", "id_seen")
    )
    # vq/nn_n are constant across a vector's ranks — one row each
    vecs = assigned.filter(F.col("rnk") == 1).select("vec_id", "vq", "nn_n")
    return (
        rr.join(never_broadcast(spark.table(members)), ["cell", "sub"])
        # survivor selection as a RESIDUAL predicate, deliberately in
        # arithmetic form: a plain seen_id == id_seen gets pushed into
        # the join condition and extracted as a THIRD equi-join key,
        # which breaks the members side's (cell, sub) bucket match and
        # re-exchanges the corpus-scale table per batch (observed in
        # the round-15 plan pin); the difference form stays a post-join
        # filter, so the members scan keeps its bucket distribution and
        # the join fans <= cap x rerank rows per probed vector before
        # filtering
        .filter((F.col("seen_id") - F.col("id_seen")) == F.lit(0))
        .join(vecs, "vec_id")
    )


def probe(
    spark,
    new: DataFrame,
    coarse: str,
    fine: str,
    members: str,
    nprobe: int = 1,
    codes: str | None = None,
    pqcb: str | None = None,
) -> DataFrame:
    """Probe the quantized (vec_id, vq) batch ``new`` against the index
    tables ``coarse``/``fine``/``members`` (module docstring) at
    ``nprobe`` coarse cells per vector.  With ``codes``/``pqcb`` the
    candidates come from ADC over the PQ codes (IVFPQ's two stages,
    FAISS's nprobe on this layout): dup counts are then capped at
    ``_PQ_RERANK`` and a SUBSET of the full-vector probe's.  Returns
    ``(vec_id, cell, sub, n_seen_dups, max_cos_bp, is_novel)``."""
    assigned = _assign(spark, new, coarse, fine, nprobe)
    if codes is None:
        pairs = assigned.join(
            never_broadcast(spark.table(members)), ["cell", "sub"]
        )
    else:
        pairs = _adc_candidates(spark, new, assigned, members, codes, pqcb)
    return verdicts(
        pairs,
        assigned.filter(F.col("rnk") == 1).select("vec_id", "cell", "sub"),
    )


def verdicts(pairs: DataFrame, probed: DataFrame) -> DataFrame:
    """The verify step: the candidate ``pairs`` (vec_id, vq, nn_n,
    vq_s, nn_s) at integer cosine ``>= _SEMDEDUP_EPS_BP``, counted and
    maxed per vector, reported onto the ``probed`` rows (vec_id and
    their cell keys): ``(vec_id, *keys, n_seen_dups, max_cos_bp,
    is_novel)``."""
    hits = (
        pairs.filter((F.col("nn_n") > 0) & (F.col("nn_s") > 0))
        .select(
            "vec_id",
            cos_bp(dot(F.col("vq"), F.col("vq_s")), "nn_n", "nn_s").alias(
                "cos_bp"
            ),
        )
        .filter(F.col("cos_bp") >= F.lit(_SEMDEDUP_EPS_BP))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seen_dups"),
            F.max("cos_bp").alias("max_cos_bp"),
        )
        .withColumn("hit", F.lit(1))
    )
    return (
        probed.join(never_broadcast(hits), "vec_id", "left")
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            *(c for c in probed.columns if c != "vec_id"),
            F.coalesce("n_seen_dups", F.lit(0))
            .cast("bigint")
            .alias("n_seen_dups"),
            F.coalesce("max_cos_bp", F.lit(_NO_PEER_BP))
            .cast("bigint")
            .alias("max_cos_bp"),
            F.when(F.col("hit").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_novel"),
        )
    )


def probe_current_generation(
    spark, sf_dir: str, pointer_path: str, new, adc: bool = False
) -> DataFrame:
    """Probe a quantized (vec_id, vq) batch against whatever generation
    the pointer names — the reader-side half of the cutover contract.
    The pointer is resolved ONCE, at plan-build time, so one probe
    never mixes generations even if a cutover lands mid-execution (the
    old generation's tables are immutable until vacuumed).

    ``adc=True`` (round 16) serves the IVFPQ two-stage path instead —
    ADC over the generation's bucketed CODES table, exact cosine on the
    top-rerank survivors only — and REFUSES loudly when the pointer
    does not carry the ``pq`` flag: a generation without codes must
    never silently fall back to the full-vector membership join an ADC
    reader chose this path to avoid.

    The SERVING probe width is the pointer's ``nprobe=N`` token (round
    17, VERDICT r16 #1), honored by both backends, so the recall
    actuator's ``set_generation_nprobe`` step changes what production
    serves, not just what the QA snapshot measures.  Probe cost ~x
    nprobe on the broadcast-side coarse compute, zero extra exchange
    (the wave-14 sweep's measured price)."""
    # ONE pointer snapshot (ADVICE r16): kind, flags, and the serving
    # nprobe must come from the same atomic file read, or a cutover
    # landing between two opens pairs one generation's kind with
    # another's flags
    rec = read_pointer(pointer_path)
    kind = rec.kind
    if kind is None:
        raise RuntimeError(
            f"no current generation under {pointer_path!r}: run a fit"
            " and cut over before probing"
        )
    lay = generation_layout(sf_dir, kind)
    # DELETION reaches every serving path (round 18, VERDICT r17 #2):
    # when the generation carries tombstones, the probes read the LIVE
    # members (and codes) view — members minus the tombstone set, a
    # broadcast anti-join bounded by deletion volume that preserves
    # the big side's bucket distribution (zero new exchange)
    members = live_view(
        spark, lay.members, lay.tombs, pointer_path=pointer_path
    )
    codes = pqcb = None
    if adc:
        if not rec.pq:
            raise RuntimeError(
                f"ADC probe refused: generation {kind!r} under"
                f" {pointer_path!r} carries no 'pq' flag — fit or refit"
                " it with with_pq=True before serving ADC readers"
            )
        codes = live_view(
            spark, lay.codes, lay.tombs, pointer_path=pointer_path
        )
        pqcb = lay.pqcb
    return probe(
        spark, new, lay.coarse, lay.fine, members,
        nprobe=rec.serving_nprobe, codes=codes, pqcb=pqcb,
    )


def truth_totals(seen: DataFrame, panel: DataFrame) -> DataFrame:
    """Brute-force recall truth for a BOUNDED quantized (vec_id, vq)
    panel against ``seen`` (quantized vectors in column ``vqs``): one
    row (tv, tp) — panel vectors with a duplicate at ``>=
    _SEMDEDUP_EPS_BP`` and the duplicate pairs.  The panel is broadcast
    into a cross join with the seen side — one brute-force scan per
    panel vector, the sampled-schedule QA cost, never data x data."""
    seen_q = seen.withColumn("nns", norm2("vqs"))
    pnl = panel.withColumn("nnn", norm2("vq"))
    return (
        seen_q.crossJoin(F.broadcast(pnl))
        .filter((F.col("nnn") > 0) & (F.col("nns") > 0))
        .select(
            cos_bp(dot(F.col("vq"), F.col("vqs")), "nnn", "nns").alias(
                "cos_bp"
            ),
            "vec_id",
        )
        .filter(F.col("cos_bp") >= F.lit(_SEMDEDUP_EPS_BP))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tv"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("tp"),
        )
    )


def probe_stats(res: DataFrame, *key: Column) -> DataFrame:
    """Probe rows -> one stats row (``*key``, dv, dp): vectors with a
    detected duplicate and detected pairs."""
    return res.agg(
        F.sum(F.lit(1) - F.col("is_novel")).cast("bigint").alias("dv"),
        F.sum("n_seen_dups").cast("bigint").alias("dp"),
    ).select(*key, "dv", "dp")


def score_recall(stats: DataFrame, truth: DataFrame, *key) -> DataFrame:
    """``probe_stats`` rows x the one ``truth_totals`` row -> recall
    rows (``*key``, n_truth_vecs, n_truth_pairs, n_detected_vecs,
    n_detected_pairs, vec_recall_bp, pair_recall_bp)."""
    return stats.crossJoin(F.broadcast(truth)).select(
        *key,
        F.col("tv").alias("n_truth_vecs"),
        F.col("tp").alias("n_truth_pairs"),
        F.col("dv").alias("n_detected_vecs"),
        F.col("dp").alias("n_detected_pairs"),
        # zero-guarded on BOTH sides (ADVICE r14): a degenerate panel
        # with no true duplicates must yield recall 0, not NULL/error
        F.expr(
            "CAST(CASE WHEN tv = 0 THEN 0 ELSE dv * 10000 div tv END"
            " AS BIGINT)"
        ).alias("vec_recall_bp"),
        F.expr(
            "CAST(CASE WHEN tp = 0 THEN 0 ELSE dp * 10000 div tp END"
            " AS BIGINT)"
        ).alias("pair_recall_bp"),
    )
