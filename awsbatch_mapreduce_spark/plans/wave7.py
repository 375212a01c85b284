"""Round-6 (wave 7) additions: scale observability + approximate-path QA.

Round 6 turned the dedup/ANN scale story from pinned claims into
measured results (SCALING.md "sf1 rehearsal").  These queries make the
quantities that *govern* those measurements first-class, oracle-gated
outputs of the engine itself, so a pipeline operator can watch them
drift as the corpus grows instead of re-deriving them ad hoc:

- ``lsh_band_load_histogram`` / ``emb_band_load_histogram`` — band-
  bucket load distributions of the MinHash-LSH and sign-LSH indexes.
  Candidate volume is exactly ``sum_buckets s*(s-1)/2``; a fattening
  tail is the earliest warning that banding parameters need re-tuning
  before the candidate join blows up.
- ``token_df_heavy_hitters`` / ``df_cap_candidate_curve`` — the
  document-frequency heavy hitters the df-cap escape valves are sized
  against, and the candidate-volume-vs-cap tuning curve itself.
- ``ann_recall_eval`` / ``ann_pq_recall_eval`` — recall@5 of the IVF
  and PQ approximate paths against brute-force truth (the ANN twins
  of ``minhash_lsh_eval``).
- ``jaccard_threshold_curve`` — survivor curve of the exact near-dup
  pair set by threshold.
- ``near_dup_source_matrix`` / ``source_quality_profile`` — corpus
  forensics: which sources duplicate each other, and which earn their
  mixture weight.

All are pure JVM-side plans over the same shingle/token/band frames
the ladders use, with DuckDB oracles composed from the shared SQL
fragments so the two engines can't drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.functions.rounding import dround
from awsbatch_mapreduce_spark.operators.minhash import (
    _BANDS_SQL,
    _N_HASHES,
    _SH_SQL,
    _VERIFY_SQL,
    _cand_sql,
    _sig_sql,
    band_keys,
    candidate_pairs,
    shared_shingles,
    shingles,
    signatures,
)
from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.plans.llm_text import (
    _NGRAM_PAIRS_ORACLE,
    _QUALITY_ORACLE,
    with_quality,
)
from awsbatch_mapreduce_spark.plans.registry import QUERIES, query
from awsbatch_mapreduce_spark.plans.wave5 import (
    _prefix_filter_plan,
    prefix_filter_oracle,
)
from awsbatch_mapreduce_spark.plans.similarity import (
    _EMB_KEYS_SQL,
    _IVF_ORACLE,
    _KNN_ORACLE,
    _PQ_ORACLE,
    _sign_band_key,
)
from awsbatch_mapreduce_spark.sources.tables import load_table

_BAND_HIST_ORACLE = f"""
    WITH {_SH_SQL},
    {_sig_sql()},
    {_BANDS_SQL},
    loads AS (SELECT bk, COUNT(*) AS s FROM bands GROUP BY bk)
    SELECT CAST(s AS BIGINT) AS bucket_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(*) * (s * (s - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM loads GROUP BY s
"""


@query("lsh_band_load_histogram", oracle=_BAND_HIST_ORACLE, wave=7)
def lsh_band_load_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket load histogram of the MinHash-LSH index: for each
    bucket size ``s``, how many band buckets hold exactly ``s``
    documents, and the candidate pairs they imply (``s*(s-1)/2`` per
    bucket).  The sum of ``candidate_pairs`` IS the candidate-join
    volume of :func:`~awsbatch_mapreduce_spark.plans.llm_text.
    dedup_minhash_lsh` before the distinct — the quantity the sf1
    rehearsal measures indirectly via shuffle bytes, here as an exact
    per-load breakdown.

    Scale shape: identical index build as the dedup query (shingle ->
    signature groupBy -> band-key explode), then two hash aggregates
    on tiny keys; no joins at all, so the plan is strictly cheaper
    than the dedup it instruments.  At 100 TB this is the cheap daily
    health probe that says whether banding parameters still hold
    before anyone pays for the candidate join.
    """
    sh = shingles(load_table(spark, sf_dir, "documents"))
    loads = (
        band_keys(signatures(sh))
        .groupBy("bk")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    return loads.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets")
    ).select(
        F.col("s").cast("bigint").alias("bucket_size"),
        "n_buckets",
        F.expr("CAST(n_buckets * (s * (s - 1) div 2) AS BIGINT)").alias(
            "candidate_pairs"
        ),
    )


_HEAVY_HITTERS_ORACLE = """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    df AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY token)
    SELECT token, CAST(df AS BIGINT) AS df
    FROM df
    QUALIFY ROW_NUMBER() OVER (ORDER BY df DESC, token) <= 20
"""


@query("token_df_heavy_hitters", oracle=_HEAVY_HITTERS_ORACLE, wave=7)
def token_df_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by document frequency — the boilerplate set that
    df-cap escape valves are sized against (``minhash_lsh_eval`` cuts
    shingles at df > 64; ``dedup_prefix_filter`` keeps only the RAREST
    tokens in its prefixes).  Watching this tail tells an operator
    whether a cap chosen at sf0.1 still holds after the corpus grows.

    Scale shape: distinct-token explode -> token-keyed df rollup ->
    global top-20 as orderBy+limit, which Catalyst plans as
    TakeOrderedAndProject (per-partition heaps, no global sort, no
    single-partition window) — the same distributed top-k discipline
    ``test_global_topk_is_take_ordered_not_window`` pins elsewhere.
    Ties break on the token string so the cut is engine-independent.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    df = toks.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return df.orderBy(F.desc("df"), F.asc("token")).limit(20)


def _recall_oracle(approx_sql: str) -> str:
    """Recall@5 oracle against brute-force truth for any ANN oracle that
    yields (query_id, neighbor_id) rows — shared by the IVF and PQ
    evals so the scoring arithmetic can't drift between them."""
    return f"""
    WITH truth AS (SELECT query_id, neighbor_id FROM ({_KNN_ORACLE})),
    approx AS (SELECT query_id, neighbor_id FROM ({approx_sql}))
    SELECT t.query_id,
           COUNT(*) AS n_truth,
           CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 END), 0)
                AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 END), 0)
                * 10000 // COUNT(*) AS BIGINT) AS recall_bp
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
"""


def _recall_frame(spark: SparkSession, sf_dir: str, approx_name: str) -> DataFrame:
    """Spark twin of :func:`_recall_oracle`: join the named approximate
    ladder's top-5 against brute-force truth and score per query."""
    truth = QUERIES["knn_bruteforce_cosine"].builder(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = (
        QUERIES[approx_name].builder(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    joined = truth.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hits"),
    ).select(
        "query_id",
        "n_truth",
        "n_hits",
        F.expr("CAST(n_hits * 10000 div n_truth AS BIGINT)").alias("recall_bp"),
    )


@query("ann_recall_eval", oracle=_recall_oracle(_IVF_ORACLE), wave=7)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF ANN ladder against brute-force ground truth,
    per query vector — the ANN-side twin of ``minhash_lsh_eval``: the
    QA harness that says whether the *approximate* scale path is still
    returning the neighbors the exact path would, so an operator can
    re-tune nprobe/ncells from measurements instead of faith.  Scoring
    is the shared :func:`_recall_frame` harness (ADVICE r6: one scoring
    body for the IVF and PQ evals so the arithmetic can't drift).

    Scale shape: both inputs are the already-pinned ladder plans
    (broadcast query batch, sort-merge corpus joins); this query adds
    only a join between two k×|queries| frames — bounded by
    construction (queries are an explicit ``vec_id < 8`` batch), so
    whatever strategy the planner picks for it is safe.  At 100 TB the
    eval costs one brute-force pass over the corpus for the fixed query
    panel — the thing you run on a sample, on a schedule, not per
    pipeline run.
    """
    return _recall_frame(spark, sf_dir, "ann_ivf_topk")


_DF_CAPS = [16, 32, 64, 128, 256]

_DF_CAP_ORACLE = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    df AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY token),
    caps AS (SELECT unnest([{", ".join(str(c) for c in _DF_CAPS)}]) AS cap)
    SELECT CAST(cap AS BIGINT) AS cap,
           CAST(COALESCE(SUM(CASE WHEN df <= cap THEN 1 END), 0) AS BIGINT)
             AS n_tokens_kept,
           CAST(COALESCE(SUM(CASE WHEN df <= cap THEN df * (df - 1) // 2 END), 0)
             AS BIGINT) AS candidate_pairs,
           CAST(COALESCE(SUM(CASE WHEN df > cap THEN 1 END), 0) AS BIGINT)
             AS n_tokens_dropped,
           CAST(COALESCE(SUM(CASE WHEN df > cap THEN df END), 0) AS BIGINT)
             AS postings_dropped
    FROM df CROSS JOIN caps
    GROUP BY cap
"""


@query("df_cap_candidate_curve", oracle=_DF_CAP_ORACLE, wave=7)
def df_cap_candidate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair volume of a token-postings join as a function of
    the document-frequency cap — the tuning curve behind the
    *token-based* df-cap valves (``dedup_prefix_filter``'s rare-token
    prefixes, ``dedup_prefix_filter_capped``'s hard cap).  The curve is
    computed over whitespace tokens; ``minhash_lsh_eval``'s df>64 cut
    operates on 5-gram shingles, whose df distribution differs, so this
    curve prices the token caps only (a shingle-keyed twin would be the
    tuning curve for the LSH cut).  For each cap:
    tokens kept, the worst-case candidate pairs they imply
    (``df*(df-1)/2`` per token), and the tokens/postings the cap
    discards.  Reading this at the current corpus size tells an
    operator where the cap knee sits BEFORE paying for a candidate
    join that 10x'd since the cap was chosen.

    Scale shape: one distinct-token explode, one token-keyed rollup,
    then a 5-way literal explode and a 5-group aggregate — no joins,
    map-side partials everywhere; strictly cheaper than any query it
    tunes.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    df = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    caps = F.explode(
        F.array(*[F.lit(c) for c in _DF_CAPS])
    ).alias("cap")
    curve = df.select("df", caps)
    kept = F.col("df") <= F.col("cap")
    return curve.groupBy(F.col("cap").cast("bigint").alias("cap")).agg(
        F.coalesce(F.sum(F.when(kept, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_tokens_kept"),
        F.coalesce(
            F.sum(F.when(kept, F.expr("df * (df - 1) div 2"))), F.lit(0)
        )
        .cast("bigint")
        .alias("candidate_pairs"),
        F.coalesce(F.sum(F.when(~kept, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_tokens_dropped"),
        F.coalesce(F.sum(F.when(~kept, F.col("df"))), F.lit(0))
        .cast("bigint")
        .alias("postings_dropped"),
    )


_SOURCE_MATRIX_ORACLE = f"""
    WITH pairs AS (SELECT id_a, id_b, jaccard FROM ({_NGRAM_PAIRS_ORACLE}))
    SELECT LEAST(da.source, db.source) AS source_lo,
           GREATEST(da.source, db.source) AS source_hi,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(FLOOR(jaccard * 10000.0 + 0.5) AS BIGINT))
                // COUNT(*) AS BIGINT) AS mean_jaccard_bp
    FROM pairs
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    GROUP BY 1, 2
"""


@query("near_dup_source_matrix", oracle=_SOURCE_MATRIX_ORACLE, wave=7)
def near_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus forensics: exact near-dup pairs (n-gram Jaccard >= 0.12)
    cross-tabbed by the *source pair* they span, with the mean overlap
    strength in basis points.  Off-diagonal mass is the interesting
    signal — two crawls/feeds duplicating each other means one of them
    should be demoted in the mixture before training, and the diagonal
    ranks sources by internal redundancy.

    Scale shape: reuses :func:`~awsbatch_mapreduce_spark.plans.
    llm_text.dedup_ngram_jaccard`'s inverted-index pair plan (already
    pinned to sort-merge shuffles), then two joins of the pair frame
    against the doc->source projection — both sides O(corpus), both
    pinned via ``never_broadcast`` — into a tiny
    |sources|^2-bounded aggregate.  The least/greatest fold makes the
    matrix upper-triangular so the two engines can't disagree on pair
    orientation.
    """
    pairs = QUERIES["dedup_ngram_jaccard"].builder(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    src_a = never_broadcast(
        docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    )
    src_b = never_broadcast(
        docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    )
    bp = F.floor(F.col("jaccard") * 10000.0 + F.lit(0.5)).cast("bigint")
    return (
        pairs.join(src_a, "id_a")
        .join(src_b, "id_b")
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
            bp.alias("bp"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("CAST(sum(bp) div count(1) AS BIGINT)").alias(
                "mean_jaccard_bp"
            ),
        )
    )


@query("ann_pq_recall_eval", oracle=_recall_oracle(_PQ_ORACLE), wave=7)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ-ADC ladder against brute-force ground truth —
    same harness as :func:`ann_recall_eval`, pointed at the *quantized*
    scale path.  PQ trades accuracy for a corpus scan over 8-byte codes
    instead of 256-byte vectors; this is the query that prices that
    trade in recall terms so codebook size / segment count can be tuned
    from measurements.  Plan shape is the two pinned ladder plans plus
    a bounded recall join (k x |queries| rows each side).
    """
    return _recall_frame(spark, sf_dir, "ann_pq_adc_topk")


_SOURCE_QUALITY_ORACLE = f"""
    WITH q AS (SELECT * FROM ({_QUALITY_ORACLE}))
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(FLOOR(q.quality * 10000.0 + 0.5) AS BIGINT))
                // COUNT(*) AS BIGINT) AS mean_quality_bp,
           CAST(COALESCE(SUM(CASE WHEN q.quality >= 0.5 THEN 1 END), 0)
                AS BIGINT) AS n_high_quality
    FROM q JOIN documents d ON d.doc_id = q.doc_id
    GROUP BY d.source
"""


@query("source_quality_profile", oracle=_SOURCE_QUALITY_ORACLE, wave=7)
def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: doc count, total token budget,
    mean quality score (basis points), and the count of high-quality
    (>= 0.5) docs — the table a mixture designer reads to decide which
    sources earn weight and which get demoted before training.

    Scale shape: the quality formula is a pure narrow projection
    (shared with :func:`~awsbatch_mapreduce_spark.plans.llm_text.
    text_quality_score` via ``with_quality``), then one hash aggregate
    keyed on `source` — a |sources|-bounded output with map-side
    partials and no joins at all (the oracle joins back to documents
    for `source`; Spark reads it off the same scan).
    """
    docs = load_table(spark, sf_dir, "documents")
    q = with_quality(docs)
    bp = F.floor(F.col("quality") * 10000.0 + F.lit(0.5)).cast("bigint")
    return q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr(
            "CAST(sum(CAST(floor(quality * 10000.0 + 0.5) AS BIGINT))"
            " div count(1) AS BIGINT)"
        ).alias("mean_quality_bp"),
        F.coalesce(F.sum(F.when(F.col("quality") >= 0.5, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_high_quality"),
    )


_JACCARD_CURVE_ORACLE = f"""
    WITH pairs AS (SELECT jaccard FROM ({_NGRAM_PAIRS_ORACLE})),
    buckets AS (
      SELECT CAST(FLOOR(CAST(FLOOR(jaccard * 10000.0 + 0.5) AS BIGINT) / 500)
                  * 500 AS BIGINT) AS bucket_lo_bp,
             COUNT(*) AS n_pairs
      FROM pairs GROUP BY 1)
    SELECT bucket_lo_bp, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY bucket_lo_bp DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_pairs_at_or_above
    FROM buckets
"""


@query("jaccard_threshold_curve", oracle=_JACCARD_CURVE_ORACLE, wave=7)
def jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor curve of the exact near-dup pair set by Jaccard
    threshold: pairs per 0.05-wide bucket, plus how many pairs a
    dedup pass at that threshold would act on (cumulative from above).
    This is the knob-turning table for "how aggressive should the
    near-dup threshold be" — read it at the current corpus size
    instead of re-running the dedup at five thresholds.

    Scale shape: the pair generation reuses the pinned inverted-index
    plan; on top sit a tiny bucket aggregate (<= 18 groups) and a
    cumulative window over those groups — the single-partition window
    runs on a bounded aggregate, never on the data-scaled pair frame.
    """
    pairs = QUERIES["dedup_ngram_jaccard"].builder(spark, sf_dir)
    bp = F.floor(F.col("jaccard") * 10000.0 + F.lit(0.5)).cast("bigint")
    buckets = (
        pairs.select((F.floor(bp / 500) * 500).cast("bigint").alias("bucket_lo_bp"))
        .groupBy("bucket_lo_bp")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.desc("bucket_lo_bp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return buckets.select(
        "bucket_lo_bp",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("n_pairs_at_or_above"),
    )


_EMB_BAND_HIST_ORACLE = f"""
    WITH {_EMB_KEYS_SQL},
    loads AS (SELECT bk, COUNT(*) AS s FROM keys GROUP BY bk)
    SELECT CAST(s AS BIGINT) AS bucket_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(*) * (s * (s - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM loads GROUP BY s
"""


@query("emb_band_load_histogram", oracle=_EMB_BAND_HIST_ORACLE, wave=7)
def emb_band_load_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH band-bucket load histogram for the embedding dedup
    index — the vector-space twin of :func:`lsh_band_load_histogram`:
    for each bucket size ``s``, the number of sign-band buckets
    holding ``s`` vectors and the candidate pairs they imply.  A
    fattening tail means the 8-bit axis-aligned bands no longer
    discriminate (e.g. embeddings collapsed toward an orthant) and
    ``dedup_embedding_cosine``'s candidate join is about to grow —
    caught here for the price of two aggregates, no joins.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    keys = emb.select(
        "vec_id",
        F.explode(
            F.array(_sign_band_key(0, 0, 8), _sign_band_key(1, 8, 16))
        ).alias("bk"),
    )
    loads = keys.groupBy("bk").agg(F.count(F.lit(1)).alias("s"))
    return loads.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets")
    ).select(
        F.col("s").cast("bigint").alias("bucket_size"),
        "n_buckets",
        F.expr("CAST(n_buckets * (s * (s - 1) div 2) AS BIGINT)").alias(
            "candidate_pairs"
        ),
    )


_CALIBRATION_ORACLE = f"""
    WITH {_SH_SQL},
    {_sig_sql()},
    {_BANDS_SQL},
    {_cand_sql()},
    {_VERIFY_SQL},
    scored AS (
      SELECT c.id_a, c.id_b,
             ({" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_N_HASHES))}) AS n_sig_matches,
             CAST(FLOOR((COALESCE(i.n_common, 0) * 1.0 /
                  (sa.n + sb.n - COALESCE(i.n_common, 0))) * 10000.0 + 0.5)
                  AS BIGINT) AS exact_bp
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
      LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b)
    SELECT CAST(n_sig_matches AS BIGINT) AS n_sig_matches,
           COUNT(*) AS n_pairs,
           CAST(SUM(exact_bp) // COUNT(*) AS BIGINT) AS mean_exact_bp,
           CAST(MIN(exact_bp) AS BIGINT) AS min_exact_bp,
           CAST(MAX(exact_bp) AS BIGINT) AS max_exact_bp
    FROM scored GROUP BY n_sig_matches
"""


@query("minhash_calibration", oracle=_CALIBRATION_ORACLE, wave=7)
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-fidelity probe for the MinHash signature: every LSH
    candidate pair grouped by how many of its 8 signature components
    agree, against the *exact* shingle Jaccard of those pairs (mean /
    min / max, in basis points).  Unlike :func:`~awsbatch_mapreduce_
    spark.plans.llm_text.dedup_minhash_lsh`, zero-overlap candidates
    are KEPT (exact = 0): the n_sig_matches=2 row's near-zero mean is
    the measured false-positive tail of the banding, and a drifting
    mean at fixed match count means the signature no longer estimates
    Jaccard on this corpus (e.g. shingle-set sizes collapsed).

    Scale shape: the same pinned shingle->signature->band->verify
    pipeline as the dedup query, plus two signature lookups on the
    candidate set (sort-merge, data-scaled both sides) — output is 7
    rows regardless of corpus size.
    """
    sh = shingles(load_table(spark, sf_dir, "documents")).localCheckpoint()
    # no sig checkpoint: re-agg over the materialized sh is cheaper
    # than a second materialization barrier (round-19 measurement)
    sig = signatures(sh)
    cand = (
        candidate_pairs(band_keys(sig))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    inter = shared_shingles(cand, sh)
    siga = never_broadcast(
        sig.select(
            F.col("doc_id").alias("id_a"),
            F.col("n").alias("na"),
            *[F.col(f"h{i}").alias(f"ha{i}") for i in range(_N_HASHES)],
        )
    )
    sigb = never_broadcast(
        sig.select(
            F.col("doc_id").alias("id_b"),
            F.col("n").alias("nb"),
            *[F.col(f"h{i}").alias(f"hb{i}") for i in range(_N_HASHES)],
        )
    )
    matches = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        for i in range(_N_HASHES)
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    exact_bp = F.floor(
        (n_common * 1.0 / (F.col("na") + F.col("nb") - n_common)) * 10000.0
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        cand.join(never_broadcast(inter), ["id_a", "id_b"], "left")
        .join(siga, "id_a")
        .join(sigb, "id_b")
        .select(
            matches.cast("bigint").alias("n_sig_matches"),
            exact_bp.alias("exact_bp"),
        )
    )
    return scored.groupBy("n_sig_matches").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("CAST(sum(exact_bp) div count(1) AS BIGINT)").alias(
            "mean_exact_bp"
        ),
        F.min("exact_bp").alias("min_exact_bp"),
        F.max("exact_bp").alias("max_exact_bp"),
    )


_PF_DF_CAP = 64


@query(
    "dedup_prefix_filter_capped",
    oracle=prefix_filter_oracle(df_cap=_PF_DF_CAP),
    wave=7,
)
def dedup_prefix_filter_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-cap escape valve of :func:`~awsbatch_mapreduce_spark.
    plans.wave5.dedup_prefix_filter`, made first-class: tokens with
    global document frequency > 64 are dropped before sizing,
    prefixing, and verification, and Jaccard (>= 0.70) is computed on
    the capped sets.  The exact operator's cost is output-bound — on a
    clique-dense corpus ANY exact method must verify ~all true pairs —
    and this is the documented way out: capping bounds candidate
    volume by rare-token co-occurrence, at an accuracy trade that is
    EXPLICITLY corpus-dependent — on natural corpora near-dup pairs
    share rare tokens and the trade is small; on this fixture's
    planted template cliques the clique-defining tokens themselves
    exceed the cap once a clique outgrows 64 docs, so the valve
    surrenders exactly those pairs (51,493 -> 300 at sf0.01; 5.1M ->
    0 at sf0.1, in 2.5 s instead of ~80).  That asymmetry is the
    operator's honest contract: the cap removes *boilerplate-scale*
    duplication from the workload, which is the part an exact join
    cannot afford — `dedup_minhash_lsh` still catches high-Jaccard
    pairs regardless of df.  Same plan body, same oracle body, one
    `df <= cap` semi-join of difference (both engines apply it, so
    the comparison stays exact about the approximation).

    Scale shape: identical pinned sort-merge pipeline as the exact
    operator; the cap bounds per-token posting lists at 64, so the
    candidate join's worst case drops from sum(df^2) over the full
    vocabulary to 64*|capped postings| — the knob
    ``df_cap_candidate_curve`` prices empirically.
    """
    return _prefix_filter_plan(spark, sf_dir, df_cap=_PF_DF_CAP)


_CONCENTRATION_ORACLE = """
    WITH toks AS (
      SELECT d.source, unnest(string_split(d.text, ' ')) AS token
      FROM documents d),
    counts AS (
      SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
           CAST(SUM(c) AS BIGINT) AS n_postings,
           CAST(SUM(c * c) * 1000000 // (SUM(c) * SUM(c)) AS BIGINT)
             AS simpson_ppm
    FROM counts GROUP BY source
"""


@query("source_token_concentration", oracle=_CONCENTRATION_ORACLE, wave=7)
def source_token_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical concentration per source via the Simpson index
    (``sum(c^2)/total^2`` in ppm — the probability two random token
    draws from the source coincide).  A source whose concentration
    climbs is collapsing toward boilerplate (template spam, nav
    chrome) long before its mean quality score moves; read next to
    ``source_quality_profile`` when assigning mixture weights.
    Entropy would say the same thing but needs ``ln`` (float,
    engine-dependent ulps); Simpson is a ratio of integer counts, so
    the cross-engine comparison is exact, not approximately equal.

    Scale shape: one token explode, one (source, token)-keyed rollup
    with map-side partials, one |sources|-bounded aggregate — no
    joins, nothing driver-side.

    Arithmetic width (ADVICE r6): DuckDB's SUM over BIGINT promotes to
    HUGEINT (int128), so the Spark side squares and sums in
    DECIMAL(38,0) rather than int64 — int64 would wrap silently above
    ~3e9 postings per source in non-ANSI mode, exactly the corpus
    scale this probe monitors.  DECIMAL(38,0) holds until
    ``sum(c^2) * 1e6 > 1e38`` (per-token counts ~1e16), far beyond any
    real corpus; past that Spark yields NULL rather than a wrong
    number.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("token"))
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
        F.sum("c").cast("bigint").alias("n_postings"),
        F.expr(
            "CAST(sum(CAST(c AS DECIMAL(19,0)) * c) * 1000000"
            " div (sum(CAST(c AS DECIMAL(19,0)))"
            " * sum(CAST(c AS DECIMAL(19,0)))) AS BIGINT)"
        ).alias("simpson_ppm"),
    )


_CENTROID_DRIFT_ORACLE = """
    WITH bits AS (SELECT vec_id, label, vec_id % 2 AS half,
                         generate_subscripts(embedding, 1) AS i,
                         CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
    cent AS (
      SELECT label, half, i,
             FLOOR(AVG(v) * 10000.0 + 0.5) / 10000.0 AS cv,
             COUNT(DISTINCT vec_id) AS n_vecs
      FROM bits GROUP BY 1, 2, 3),
    joined AS (
      SELECT a.label,
             SUM(a.cv * b.cv) AS dot,
             SUM(a.cv * a.cv) AS aa,
             SUM(b.cv * b.cv) AS bb,
             MAX(a.n_vecs) AS n_a,
             MAX(b.n_vecs) AS n_b
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.i = b.i AND a.half = 0 AND b.half = 1
      GROUP BY a.label)
    SELECT CAST(label AS INT) AS label,
           CAST(n_a AS BIGINT) AS n_even,
           CAST(n_b AS BIGINT) AS n_odd,
           CAST(FLOOR((dot / (SQRT(aa) * SQRT(bb))) * 10000.0 + 0.5)
                AS BIGINT) AS cosine_bp
    FROM joined
"""


@query("embedding_centroid_drift", oracle=_CENTROID_DRIFT_ORACLE, wave=7)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid agreement between the even- and odd-id halves
    of the embedding corpus (cosine in basis points).  On a healthy
    corpus the interleaved halves are exchangeable and every label
    reads ~10000; a label whose halves disagree has heterogeneous or
    shifting embeddings — the cheap self-consistency probe to run
    after an embedding-model change or a new ingest batch, before the
    expensive ANN index rebuild.  Centroid values quantize to 4
    decimals (same discipline as the IVF codebook) so the comparison
    is engine-exact.

    Scale shape: one posexplode, one (label, half, dim)-keyed average
    with map-side partials, then a join of two |labels|x|dims|-bounded
    centroid frames — bounded by construction, so its join strategy is
    free to be anything.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    bits = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("i", "v"),
    ).select("vec_id", "label", "half", "i", F.col("v").cast("double").alias("v"))
    cent = bits.groupBy("label", "half", "i").agg(
        dround(F.avg("v"), 4).alias("cv"),
        F.countDistinct("vec_id").alias("n_vecs"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "i", F.col("cv").alias("ca"), F.col("n_vecs").alias("n_even")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "i", F.col("cv").alias("cb"), F.col("n_vecs").alias("n_odd")
    )
    joined = a.join(b, ["label", "i"]).groupBy("label").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sum(F.col("ca") * F.col("ca")).alias("aa"),
        F.sum(F.col("cb") * F.col("cb")).alias("bb"),
        F.max("n_even").cast("bigint").alias("n_even"),
        F.max("n_odd").cast("bigint").alias("n_odd"),
    )
    return joined.select(
        F.col("label").cast("int").alias("label"),
        "n_even",
        "n_odd",
        F.floor(
            (F.col("dot") / (F.sqrt("aa") * F.sqrt("bb"))) * 10000.0 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cosine_bp"),
    )
