"""The lexical dedup ladder over the ``documents`` fixture.

Batch near-duplicate detection (MinHash-LSH, n-gram Jaccard,
containment, substring spans, content-defined chunks, the exact-token
prefix filter and its df-capped twin, the bucket-capped LSH), the
incremental probe of a new batch against the seen corpus, and the QA
queries that measure the ladder itself: band-load and df heavy-hitter
histograms, df-cap candidate curves, LSH recall against exact truth,
threshold and calibration curves, duplicate clique and component
histograms, split leakage, source and quality cross-tabs, and span
retention.

Every plan is built from JVM-side built-ins over the MinHash-LSH
format in ``operators/minhash.py`` (shingle -> signature -> band key
-> verify), and every oracle is composed from that module's shared
SQL fragments, so the two engines cannot drift.  The semantic
(embedding) rung lives in ``plans/semdedup.py`` and the persisted band
index in ``plans/lsh_gate.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.functions.rounding import dround
from awsbatch_mapreduce_spark.operators.hints import (
    never_broadcast,
    never_broadcast_hash,
)
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
from awsbatch_mapreduce_spark.plans.registry import QUERIES, query
from awsbatch_mapreduce_spark.sources.tables import load_table


_LSH_ORACLE = f"""
    WITH {_SH_SQL},
    {_sig_sql()},
    {_BANDS_SQL},
    {_cand_sql()},
    {_VERIFY_SQL}
    SELECT id_a, id_b,
           FLOOR((n_common * 1.0 / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM inter
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
"""


@query("dedup_minhash_lsh", oracle=_LSH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: shingle -> minhash -> LSH bands -> verify.

    Scale path: candidate generation is a self-join on *band keys* (tiny
    strings), so the quadratic all-pairs comparison never happens — only
    docs sharing a band collide, and the exact-Jaccard verify join runs
    on that small candidate set.  8 hashes, 4 bands of 2 => P(collide) =
    1-(1-j^2)^4, catching j>=0.9 with >99% probability.
    """
    # localCheckpoint, NOT persist (round 19, VERDICT r18 #3): the
    # shingle frame feeds the signature aggregate and both sides of the
    # verify join; a lazy persist let the bench's untimed warm-up pass
    # leave a CACHED frame that Spark's CacheManager re-matched in the
    # timed reps (identical plan), so timed minhash numbers excluded
    # the shingle compute.  The eager in-builder checkpoint keeps the
    # one-compute-many-consumers property while making every rep pay
    # the tokenize — one measurement semantics for the whole ladder,
    # re-baselined in BASELINE.md.
    sh = shingles(load_table(spark, sf_dir, "documents")).localCheckpoint()
    # the signature aggregate also yields each doc's set size n, so no
    # separate sizes frame and no post-verify size joins (~40% faster
    # at sf0.1).  sig is NOT checkpointed (measured 0.25 s slower with
    # it): its two consumers are the band self-join's sides, and
    # re-running one groupBy over the MATERIALIZED sh blocks costs less
    # than a second materialization barrier
    bands = band_keys(signatures(sh))
    cand = (
        candidate_pairs(bands)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    inter = shared_shingles(cand, sh)
    return inter.select(
        "id_a",
        "id_b",
        dround(
            F.col("n_common") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_common")),
            4,
        ).alias("jaccard"),
    )


# Shared with near_dup_source_matrix, which aggregates these
# exact pairs by source: one SQL body keeps the two oracles in lockstep.
_NGRAM_PAIRS_ORACLE = f"""
    WITH {_SH_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           FLOOR((n_common * 1.0 / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.12
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_PAIRS_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs (>= 0.12) via shared-shingle self-join.

    The inverted-index join (on shingle) only pairs docs sharing at
    least one shingle — still superlinear on pathological corpora, which
    is why :func:`dedup_minhash_lsh` is the scale path; this is the
    exact baseline it's validated against.
    """
    sh = shingles(load_table(spark, sf_dir, "documents")).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = never_broadcast(sh.alias("b"))
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = never_broadcast(
        sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    )
    zb = never_broadcast(
        sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    )
    jac = F.col("n_common") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .filter(jac >= 0.12)
        .select("id_a", "id_b", dround(jac, 4).alias("jaccard"))
    )


_CONTAINMENT_ORACLE = """
    WITH b AS (
      SELECT doc_id, text, substr(text, 1, 16) AS block FROM documents),
    tri AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tg
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(range(1, len(t) - 1)) AS u(i)),
    nsh AS (SELECT doc_id, COUNT(*) AS n_sh FROM tri GROUP BY doc_id),
    pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM b x JOIN b y ON x.block = y.block AND x.doc_id < y.doc_id),
    shared AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_shared
      FROM pairs p
      JOIN tri a ON a.doc_id = p.doc_a
      JOIN tri bb ON bb.doc_id = p.doc_b AND bb.tg = a.tg
      GROUP BY p.doc_a, p.doc_b)
    SELECT s.doc_a, s.doc_b,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(s.n_shared * 1000000 // LEAST(na.n_sh, nb.n_sh) AS BIGINT)
             AS containment_fp
    FROM shared s
    JOIN nsh na ON na.doc_id = s.doc_a
    JOIN nsh nb ON nb.doc_id = s.doc_b
    WHERE s.n_shared * 1000000 // LEAST(na.n_sh, nb.n_sh) >= 500000
"""


@query("containment_near_dup", oracle=_CONTAINMENT_ORACLE)
def containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-scored near-duplicates: for candidate pairs sharing
    a 16-char prefix block, the fraction of the SMALLER document's
    distinct word trigrams contained in the other (>= 0.5 reported).
    Jaccard misses sub/superset pairs (a doc embedded in a longer one
    scores low); containment is the standard fix for quote/expansion
    dedup.

    Scale shape: same block-then-verify discipline as every near-dup
    path in the repo — candidates come from an equi-join on the block
    key (never all pairs), the shingle-intersection join touches only
    candidate docs' shingles, and the score is an exact integer ratio.
    In production the block key is a MinHash band and shingles hash to
    8-byte digests; the fixture's planted exact-dup families make the
    16-char prefix an honest stand-in.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select("doc_id", F.substring("text", 1, 16).alias("block"))
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    tri = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(t) >= 3 THEN"
                    " transform(sequence(1, size(t) - 2),"
                    " i -> concat_ws(' ', element_at(t, i),"
                    " element_at(t, i + 1), element_at(t, i + 2)))"
                    " ELSE array() END"
                )
            )
        ).alias("tg"),
    )
    nsh = tri.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # block/trigram/size frames are all O(corpus): pin every join to
    # sort-merge so no runtime size estimate can broadcast one (the
    # sf1-rehearsal OOM mode, SCALING.md round 6).
    x, y = b.alias("x"), never_broadcast(b.alias("y"))
    pairs = x.join(
        y,
        (F.col("x.block") == F.col("y.block"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
    )
    ta = never_broadcast(
        tri.select(F.col("doc_id").alias("doc_a"), F.col("tg").alias("tg_a"))
    )
    tb = never_broadcast(
        tri.select(F.col("doc_id").alias("tb_doc"), F.col("tg").alias("tg_b"))
    )
    shared = (
        pairs.join(ta, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("tb_doc"))
            & (F.col("tg_b") == F.col("tg_a")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = never_broadcast(
        nsh.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    )
    nb = never_broadcast(
        nsh.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    )
    scored = (
        shared.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.expr(
                "CAST(n_shared * 1000000 div least(n_a, n_b) AS BIGINT)"
            ).alias("containment_fp"),
        )
    )
    return scored.filter(F.col("containment_fp") >= 500000).select(
        "doc_a", "doc_b", "n_shared", "containment_fp"
    )


# 8-token spans: long enough that natural-language collisions are
# meaningful duplication, short enough that the fixture has real hits.
_SPAN = 8


_DUP_SPAN_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    spans AS (
      SELECT doc_id, md5(array_to_string(t[i:i+{_SPAN - 1}], ' ')) AS sh
      FROM tok, UNNEST(range(1, len(t) - {_SPAN - 2})) AS u(i)
      WHERE len(t) >= {_SPAN}),
    df AS (
      SELECT sh, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY sh)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (WHERE nd >= 2) AS BIGINT) AS n_dup_spans,
           CAST(COUNT(*) FILTER (WHERE nd >= 2) * 1000000 // COUNT(*)
                AS BIGINT) AS dup_fp
    FROM spans JOIN df USING (sh)
    GROUP BY doc_id
"""


@query("duplicated_span_fraction", oracle=_DUP_SPAN_ORACLE)
def duplicated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of 8-token span positions whose span text
    also occurs in at least one OTHER document — the substring-level
    duplication signal (cf. suffix-array substring dedup, Lee et al.
    2022) that document-level MinHash cannot see: a 5% quoted block in
    an otherwise unique page scores ~0.05 here and ~0 Jaccard.

    Scale shape: spans hash to md5 digests before either shuffle, so
    the doc-frequency rollup and the per-position join-back both carry
    16-byte keys, never span text (the repo's digest discipline).  The
    rollup is bounded by the distinct-span domain; no window, no
    cartesian, exact integer ratio.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.expr(f"size(t) >= {_SPAN}")
    )
    spans = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SPAN - 1}),"
                f" i -> md5(concat_ws(' ', slice(t, i, {_SPAN}))))"
            )
        ).alias("sh"),
    )
    doc_freq = (
        spans.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    # span-frequency frame is digest-scaled (O(corpus)): keep the join
    # on the shuffle path (broadcast hygiene — operators/hints.py)
    return (
        spans.join(never_broadcast(doc_freq), "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            dup.cast("bigint").alias("n_dup_spans"),
            F.expr(
                "CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("dup_fp"),
        )
    )


# Content-defined chunking: boundary BEFORE token i when the rolling
# 4-token window ending at i-1 hashes to 0 mod 16 -> expected chunk
# length ~16 tokens, boundaries move with content, not position.
_CDC_W = 4


_CDC_MOD = 16


_CDC_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
      SELECT doc_id, i AS pos, t[i] AS w,
             CASE WHEN i > {_CDC_W}
                   AND ('0x' || substr(md5(array_to_string(
                         t[i-{_CDC_W}:i-1], ' ')), 1, 8))::UBIGINT
                       % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS flag
      FROM tok, UNNEST(range(1, len(t) + 1)) AS u(i)),
    ch AS (
      SELECT doc_id, pos, w,
             SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
      FROM pos),
    cd AS (
      SELECT doc_id, chunk,
             md5(string_agg(w, ' ' ORDER BY pos)) AS dg
      FROM ch GROUP BY doc_id, chunk),
    df AS (
      SELECT dg, COUNT(DISTINCT doc_id) AS nd FROM cd GROUP BY dg)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE nd >= 2) AS BIGINT)
             AS n_shared_chunks,
           CAST(COUNT(*) FILTER (WHERE nd >= 2) * 1000000 // COUNT(*)
                AS BIGINT) AS shared_fp
    FROM cd JOIN df USING (dg)
    GROUP BY doc_id
"""


@query("content_defined_chunks", oracle=_CDC_ORACLE)
def content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup: split each document at positions
    where a rolling 4-token window hashes to 0 mod 16 (expected chunk
    ~16 tokens), then count chunks whose text recurs in another
    document.  Because boundaries derive from content, a one-token
    insertion reslices only the chunk it lands in — shared-chunk
    counts survive edits that shift every fixed window
    (``doc_chunk_windows``) and dilute whole-document Jaccard.

    Scale shape: the boundary flag and running chunk id are computed
    in per-document windows (bounded by document length, the same
    partitioning every per-doc operator here uses); chunk texts hash
    to md5 digests before the corpus-wide recurrence rollup and
    join-back, so cross-doc exchanges carry 16-byte keys only.  Exact
    integer ratio; no float anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("t"))
    ch_pos = tok.select(
        "doc_id",
        F.posexplode("t").alias("p0", "w"),
        F.col("t"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        "w",
        F.expr(
            f"CASE WHEN p0 + 1 > {_CDC_W} AND"
            f" CAST(conv(substr(md5(concat_ws(' ',"
            f" slice(t, p0 + 1 - {_CDC_W}, {_CDC_W}))), 1, 8), 16, 10)"
            f" AS BIGINT) % {_CDC_MOD} = 0 THEN 1 ELSE 0 END"
        ).alias("flag"),
    )
    wch = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ch = ch_pos.withColumn("chunk", F.sum("flag").over(wch))
    cd = (
        ch.groupBy("doc_id", "chunk")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(pos, w))), x -> x.w)"
                    ),
                )
            ).alias("dg")
        )
    )
    doc_freq = (
        cd.select("doc_id", "dg")
        .distinct()
        .groupBy("dg")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    # chunk-frequency frame is digest-scaled (O(corpus)): keep the join
    # on the shuffle path (broadcast hygiene — operators/hints.py)
    return (
        cd.join(never_broadcast(doc_freq), "dg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.expr(
                "CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_shared_chunks"),
            F.expr(
                "CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("shared_fp"),
        )
    )


def _capped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped shingle universe of ``minhash_lsh_eval``: the
    shared shingle frame MINUS shingles with df > ``_LSH_EVAL_MAX_DF``
    (one boilerplate shingle in k docs makes k^2 truth pairs).  The
    anti-join against the heavy set stays on the shuffle path (the
    heavy set grows with the corpus under a fixed cap — broadcast
    hygiene, operators/hints.py).  Named so the df-cap plan pin
    (tests/test_scale_plans.py::test_lsh_eval_truth_join_is_df_capped)
    can inspect THIS frame's plan: the query itself checkpoints it, so
    the LeftAnti executes at build time and is invisible in the
    downstream query plan."""
    sh_all = shingles(load_table(spark, sf_dir, "documents"))
    heavy = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _LSH_EVAL_MAX_DF)
        .select("shingle")
    )
    return sh_all.join(never_broadcast(heavy), "shingle", "left_anti")


_LSH_EVAL_MAX_DF = 64  # heavy-shingle cut: df above this carries no


# near-dup signal (boilerplate) and quadratically blows up the truth join


_LSH_EVAL_ORACLE = f"""
    WITH {_SH_SQL},
    keep AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) <= {_LSH_EVAL_MAX_DF}),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    {_sig_sql("shc")},
    {_BANDS_SQL},
    {_cand_sql()},
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS n_common
              FROM shc a JOIN shc b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pj AS (SELECT p.id_a, p.id_b,
                  CAST(p.n_common * 10000
                       // (sa.n + sb.n - p.n_common) AS BIGINT) AS j_bp
           FROM pairs p
           JOIN sig sa ON sa.doc_id = p.id_a
           JOIN sig sb ON sb.doc_id = p.id_b),
    pjc AS (SELECT pj.*, (c.id_a IS NOT NULL) AS is_cand
            FROM pj LEFT JOIN cand c
              ON c.id_a = pj.id_a AND c.id_b = pj.id_b),
    nc AS (SELECT COUNT(*) AS n_cand FROM cand),
    taus AS (SELECT * FROM (VALUES (3000), (5000), (7000), (9000))
             t(tau_bp))
    SELECT tau_bp,
           CAST(COUNT(*) FILTER (WHERE j_bp >= tau_bp) AS BIGINT)
             AS n_truth,
           CAST((SELECT n_cand FROM nc) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (WHERE j_bp >= tau_bp AND is_cand)
                AS BIGINT) AS n_hits,
           CAST(CASE WHEN (SELECT n_cand FROM nc) = 0 THEN NULL
                ELSE COUNT(*) FILTER (WHERE j_bp >= tau_bp AND is_cand)
                     * 1000000 // (SELECT n_cand FROM nc) END
                AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN COUNT(*) FILTER (WHERE j_bp >= tau_bp) = 0
                     THEN NULL
                ELSE COUNT(*) FILTER (WHERE j_bp >= tau_bp AND is_cand)
                     * 1000000
                     // COUNT(*) FILTER (WHERE j_bp >= tau_bp) END
                AS BIGINT) AS recall_ppm
    FROM pjc CROSS JOIN taus
    GROUP BY tau_bp
"""


@query("minhash_lsh_eval", oracle=_LSH_EVAL_ORACLE)
def minhash_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline QA for the MinHash-LSH dedup path: precision and
    recall of the band-collision candidate set against exact Jaccard
    ground truth, at thresholds 0.30/0.50/0.70/0.90 — the numbers
    that justify (or re-tune) the 8-hash/4-band configuration before
    trusting it on a new corpus.

    Ground truth needs exact pairwise Jaccard, which no sub-quadratic
    plan can produce, so the truth join is an equi-join on shingles:
    O(co-shingle pairs), not all-pairs.  That alone is not enough — one
    boilerplate shingle shared by k documents yields k^2 pairs — so the
    shingle universe is first cut at document-frequency
    ``_LSH_EVAL_MAX_DF`` (64): a shingle in >64 documents is
    boilerplate carrying no *near*-dup Jaccard signal, and dropping it
    bounds every co-shingle group (worst case per shingle = 64^2 pairs,
    linear overall).  The cap is applied identically in the oracle, and
    signatures/sizes/truth all use the capped universe so the measured
    Jaccard is self-consistent.  At 100 TB this query remains an
    *evaluation harness you point at a sampled slice* (the fixture IS
    the sample), while the production dedup path stays banded.  All
    ratios are exact integer ppm.
    """
    # one tokenize + heavy-cut pass for every consumer; eager in-region
    # checkpoint (round-19 ladder migration — no cross-rep cache reuse)
    sh = _capped_shingles(spark, sf_dir).localCheckpoint()
    sig = signatures(sh)
    # bands/shingles/sizes are O(corpus): pin all candidate/truth/size
    # joins to sort-merge (broadcast hygiene — see operators/hints.py); the
    # taus and n_cand crossJoins below stay broadcast, they are bounded
    # (4-row literal / 1-row aggregate) by construction.
    cand = (
        candidate_pairs(band_keys(sig))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa, sb = sh.alias("sa"), never_broadcast(sh.alias("sb"))
    pairs = (
        sa.join(
            sb,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("id_a"),
            F.col("sb.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sig.select("doc_id", "n")
    pj = (
        pairs.join(
            never_broadcast(
                sizes.select(
                    F.col("doc_id").alias("id_a"), F.col("n").alias("na")
                )
            ),
            "id_a",
        )
        .join(
            never_broadcast(
                sizes.select(
                    F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
                )
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CAST(n_common * 10000 div (na + nb - n_common) AS BIGINT)"
            ).alias("j_bp"),
        )
    )
    pjc = pj.join(
        never_broadcast(cand.withColumn("ic", F.lit(1))),
        ["id_a", "id_b"],
        "left",
    ).withColumn("is_cand", F.col("ic").isNotNull())
    ncand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    taus = spark.range(1).select(
        F.explode(
            F.array(F.lit(3000), F.lit(5000), F.lit(7000), F.lit(9000))
        ).alias("tau_bp")
    )
    truth = F.sum(F.when(F.col("j_bp") >= F.col("tau_bp"), 1).otherwise(0))
    hits = F.sum(
        F.when((F.col("j_bp") >= F.col("tau_bp")) & F.col("is_cand"), 1)
        .otherwise(0)
    )
    return (
        pjc.crossJoin(F.broadcast(taus))
        .groupBy("tau_bp")
        .agg(
            truth.cast("bigint").alias("n_truth"),
            hits.cast("bigint").alias("n_hits0"),
        )
        .crossJoin(F.broadcast(ncand))
        .select(
            "tau_bp",
            "n_truth",
            F.col("n_cand").cast("bigint").alias("n_candidates"),
            F.col("n_hits0").alias("n_hits"),
            F.expr(
                "CAST(CASE WHEN n_cand = 0 THEN NULL"
                " ELSE n_hits0 * 1000000 div n_cand END AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(CASE WHEN n_truth = 0 THEN NULL"
                " ELSE n_hits0 * 1000000 div n_truth END AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


_INCR_DEDUP_ORACLE = """
    WITH b AS (
      SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents),
    seen AS (SELECT DISTINCT md5(text) AS fp
             FROM documents, b WHERE doc_id <= b.mid)
    SELECT d.doc_id,
           CAST(CASE WHEN s.fp IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_novel
    FROM documents d
    CROSS JOIN b
    LEFT JOIN seen s ON s.fp = md5(d.text)
    WHERE d.doc_id > b.mid
"""


@query("incremental_dedup_new_docs", oracle=_INCR_DEDUP_ORACLE)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup: flag which documents
    of the new batch (upper doc_id half) are novel vs the already-
    ingested corpus (lower half) by content fingerprint — the daily
    crawl-append operation, where re-deduplicating the whole corpus
    from scratch would be quadratic-over-time.

    Scale shape: the seen-set is distinct md5 digests (never bodies),
    the membership test is a digest equi-join, and at 100 TB the seen
    side is a bucketed digest table appended per batch — this query is
    one increment of that loop.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(
        (
            (F.min("doc_id") + F.max("doc_id")) / F.lit(2)
        ).cast("bigint").alias("mid")
    )
    withmid = docs.crossJoin(F.broadcast(b))
    seen = (
        withmid.filter(F.col("doc_id") <= F.col("mid"))
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    new = withmid.filter(F.col("doc_id") > F.col("mid")).select(
        "doc_id", F.md5("text").alias("fp")
    )
    # the seen-set is O(corpus): digest equi-join stays on the shuffle
    # path (broadcast hygiene — operators/hints.py)
    return new.join(
        never_broadcast(seen.withColumn("hit", F.lit(1))), "fp", "left"
    ).select(
        "doc_id",
        F.when(F.col("hit").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_novel"),
    )


_PREFIX_JACCARD_BP = 7000  # Jaccard >= 0.70, exact integer basis points


def prefix_filter_oracle(df_cap: int | None = None) -> str:
    """DuckDB oracle for the prefix-filter join; with ``df_cap`` the
    similarity is computed on the df-capped token sets (the escape
    valve, ``dedup_prefix_filter_capped``), without it on the full
    sets (exact, ``dedup_prefix_filter``).  One SQL body for both so
    the valve and the exact operator can't drift."""
    cap_cte = (
        f""",
    captok AS (SELECT t.doc_id, t.h FROM tok t
               JOIN df USING (h) WHERE df.df <= {df_cap})"""
        if df_cap is not None
        else ""
    )
    t = "captok" if df_cap is not None else "tok"
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, substring(md5(w), 1, 16) AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)),
    df AS (SELECT h, COUNT(*) AS df FROM tok GROUP BY h){cap_cte},
    sized AS (SELECT doc_id, COUNT(*) AS n FROM {t} GROUP BY doc_id),
    ranked AS (
      SELECT t.doc_id, t.h, s.n,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY df.df, t.h) AS rk
      FROM {t} t JOIN df USING (h) JOIN sized s USING (doc_id)),
    prefix AS (
      SELECT doc_id, h, n FROM ranked
      WHERE rk <= n - (7 * n + 9) // 10 + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.h = b.h AND a.doc_id < b.doc_id
       AND 10 * LEAST(a.n, b.n) >= 7 * GREATEST(a.n, b.n)),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN {t} ta ON ta.doc_id = c.id_a
      JOIN {t} tb ON tb.doc_id = c.id_b AND tb.h = ta.h
      GROUP BY 1, 2)
    SELECT cm.id_a, cm.id_b,
           CAST(cm.n_common * 10000
                // (sa.n + sb.n - cm.n_common) AS BIGINT) AS jaccard_bp
    FROM common cm
    JOIN sized sa ON sa.doc_id = cm.id_a
    JOIN sized sb ON sb.doc_id = cm.id_b
    WHERE cm.n_common * 10000 // (sa.n + sb.n - cm.n_common)
          >= {_PREFIX_JACCARD_BP}
"""


_PREFIX_ORACLE = prefix_filter_oracle()


def _prefix_filter_plan(
    spark: SparkSession,
    sf_dir: str,
    obs_cand=None,
    obs_common=None,
    df_cap: int | None = None,
) -> DataFrame:
    """Shared plan body for :func:`dedup_prefix_filter`, its observed
    bench twin, and the df-capped escape valve
    (``dedup_prefix_filter_capped``).  ``obs_cand``/``obs_common`` are
    optional ``pyspark.sql.Observation``s attached to the
    candidate-pair and verify-output frames (CollectMetrics nodes — a
    running count folded into the existing stages, no extra job), so
    the bench can report measured candidate volume instead of
    arithmetic from fixture row counts (VERDICT r5 #4).  With
    ``df_cap``, tokens with global document frequency above the cap
    are dropped BEFORE sizing/prefixing/verification — similarity is
    computed on the capped sets in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    # Digest narrowing (round-18 optimization, guide §2.3 "narrower
    # types"): the canonical token digest stays substring(md5(w), 1, 16)
    # — the SAME mapping the oracle applies — but Spark carries it as
    # its 64-bit integer value (two 32-bit hex halves recombined with
    # shiftleft|or, ANSI-safe because each half is < 2^32).  The
    # re-encoding is a BIJECTION on the 16-hex-char domain, so token
    # equality/inequality — the only property any downstream step uses
    # — is untouched; every exchange then moves an 8-byte long instead
    # of a 16-char string.  (The global rarity order ends up (df,
    # signed-long h) instead of (df, hex-string h): prefix CONTENTS can
    # differ from the oracle's, but the prefix-filter theorem gives no
    # false negatives under ANY consistent total order and the final
    # Jaccard is computed on full token sets, so the OUTPUT pair set is
    # order-independent — both engines emit exactly the pairs with
    # J >= 0.70.)
    h16 = F.substring(F.md5("w"), 1, 16)
    h64 = F.shiftleft(
        F.conv(F.substring(h16, 1, 8), 16, 10).cast("bigint"), 32
    ).bitwiseOR(F.conv(F.substring(h16, 9, 8), 16, 10).cast("bigint"))
    # One tokenize pass for every consumer (round-18 optimization): the
    # unshared subtree re-ran scan+explode+md5+distinct once per
    # consumer — the committed plan audit recorded 10 documents scans
    # (18 for the capped twin).  localCheckpoint, NOT persist: it is
    # materialized eagerly INSIDE the builder on every invocation, so
    # each bench rep still pays the tokenize (no cross-rep cache), and
    # the lineage cut keeps the downstream plan small (guide §5).
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .select("doc_id", h64.alias("h"))
        .distinct()
        .localCheckpoint()
    )
    df = tok.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    if df_cap is not None:
        # semi-join against the eligible (rare) vocabulary: the df
        # frame is vocabulary-scaled, so it stays on the shuffle path.
        # Checkpointed for the same shared-consumer reason as tok.
        tok = tok.join(
            never_broadcast(df.filter(F.col("df") <= df_cap).select("h")),
            "h",
            "left_semi",
        ).localCheckpoint()
    sized = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "h")
    # df (vocabulary-scaled) and sized (doc-scaled) both grow with the
    # corpus, as do the prefix/token frames below: pin every join to
    # sort-merge (broadcast hygiene — operators/hints.py).  All three
    # consumers read the checkpointed tok, not their own tokenize.
    ranked = (
        tok.join(never_broadcast(df), "h")
        .join(never_broadcast(sized), "doc_id")
        .withColumn("rk", F.row_number().over(wdoc))
    )
    prefix = ranked.filter(
        F.col("rk") <= F.expr("n - (7 * n + 9) div 10 + 1")
    ).select("doc_id", "h", "n", "rk")
    # EXPANDING-join parallelism pin (round-18 optimization, guide
    # §2.5/§7 "one task runs 50x longer"): AQE sizes post-shuffle
    # partitions from the join's INPUT bytes, and the prefix frames are
    # tiny relative to the candidate-pair output (0.6 MB in -> 87 MB /
    # 8.4M pairs out at sf0.1), so AQE coalesced this join to ONE
    # partition — a measured 34.6 s single-task stage, the query's
    # critical path.  An explicit repartition on the join key is
    # user-specified, so AQE honors it; the count scales with the
    # session's parallelism, not a local constant.
    # session shuffle partitioning, not defaultParallelism: every other
    # exchange in the plan uses it, so the explicit repartitions below
    # CO-PARTITION with their downstream joins (a count mismatch makes
    # EnsureRequirements re-exchange one side — observed as one extra
    # shuffle whenever cores != spark.sql.shuffle.partitions)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # SALTED self-join (round 19, guide §2.5): the candidate join's
    # output is dominated by a few hot prefix tokens (one h-partition
    # task ran ~9 s while the stage's other 31 slots sat idle — max ~5x
    # median), and AQE's skew splitter cannot help below its 256 MB
    # threshold.  The standard recipe costs nothing here because the
    # prefix frames are tiny relative to their join OUTPUT (0.6 MB in,
    # 8.3M pairs out at sf0.1): side a takes a deterministic salt
    # (pmod(xxhash64(doc_id), S) — never rand(), guide §2.5 retry
    # hazard), side b is replicated S ways, and the join key becomes
    # (h, salt) so each hot token's pair production splits S ways.
    # Every (a, b) pair still appears exactly once: a has ONE salt and
    # exactly one of b's replicas matches it.
    _SALT = 8
    # Explicit (h, salt) repartitions keep BOTH round-18 properties:
    # user-specified partition count (AQE sized this expanding join's
    # partitions from its tiny INPUT and coalesced it to one task) and
    # the salt actually landing hot tokens in _SALT distinct tasks.
    a = prefix.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(_SALT)).cast("int")
    ).repartition(n_part, "h", "salt").alias("a")
    b = never_broadcast(
        prefix.withColumn(
            "salt",
            F.explode(F.array(*[F.lit(i) for i in range(_SALT)])),
        ).repartition(n_part, "h", "salt").alias("b")
    )
    # Two exactness-preserving in-join prunes, applied BEFORE the
    # distinct so pruned rows never reach the expanding verify:
    # 1. length filter: J(A,B) <= min(n)/max(n), so J >= 0.7 requires
    #    10*min(na,nb) >= 7*max(na,nb);
    # 2. PPJoin POSITIONAL filter (round 19, VERDICT r18 #3): for a
    #    candidate generated by a shared prefix token at global-order
    #    positions (a.rk, b.rk), the overlap O = |A∩B| splits around
    #    that token — common tokens ordered BEFORE it occupy positions
    #    < a.rk in A and < b.rk in B (at most min(rk-1) of them), the
    #    token itself is 1, and common tokens AFTER it number at most
    #    min(n - rk) — so O <= min(a.rk-1, b.rk-1) + 1 +
    #    min(a.n-a.rk, b.n-b.rk).  J >= 0.7 needs O >= alpha =
    #    ceil(7*(na+nb)/17) (from floor(1e4*O/(S-O)) >= 7000), so any
    #    matched token whose bound is below alpha proves the pair
    #    fails; a pair survives iff SOME matched token passes, and
    #    every dropped pair would have been filtered by the final
    #    exact-Jaccard check anyway — the OUTPUT pair set is unchanged
    #    (the oracle text stays as-is; only candidate volume moves:
    #    the bench's observed candidates/verify_rows shrink).
    alpha = F.expr("(7 * (a.n + b.n) + 16) div 17")  # exact int ceil
    ubound = (
        F.least(F.col("a.rk"), F.col("b.rk"))
        + F.least(
            F.col("a.n") - F.col("a.rk"), F.col("b.n") - F.col("b.rk")
        )
    )
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(10) * F.least(F.col("a.n"), F.col("b.n"))
                >= F.lit(7) * F.greatest(F.col("a.n"), F.col("b.n"))
            )
            & (ubound >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    if obs_cand is not None:
        cand = cand.observe(obs_cand, F.count(F.lit(1)).alias("n"))
    # VERIFY: expand candidates by doc a's tokens, match doc b's tokens
    # on (id_b, h), count matches per pair — kept as narrow as possible
    # (three 8-byte columns, nothing riding along).  (An array_intersect
    # variant — per-doc digest arrays, |cand| rows through the joins —
    # was measured SLOWER in round 18: ~230 s of per-row hash-set CPU
    # vs this straight-line codegen; discarded.)
    # Round-19 verify restructure (guide §2.3/§2.4 + §3.1), three moves
    # on the |cand| x n̄ expanded frame (450M rows at sf0.1 — the
    # query's floor):
    # 1. Token sides carry SHUFFLE_HASH pins instead of sort-merge:
    #    still never broadcast-eligible (a shuffle join — the hygiene
    #    guarantee is intact), but the joins BUILD per-partition hash
    #    tables from the token frame (bytes/R, R = the session's
    #    shuffle partitioning) and STREAM the expanded side — the old
    #    SMJ pin SORTED all 450M rows ahead of the (id_b, h) match.
    # 2. Both sides of that match are explicitly hash-partitioned on
    #    id_b ALONE: a subset of the join keys satisfies the join's
    #    clustered-distribution requirement, and — the point — it also
    #    satisfies the downstream (id_a, id_b) aggregate's, so every
    #    row of a pair lands in one partition and the count collapses
    #    IN PLACE: the expanded frame crosses exactly ONE exchange,
    #    where the (id_b, h) partitioning scattered each pair's ~n̄
    #    rows by token and re-exchanged all 450M post-"partial"-agg
    #    rows a second time.  (Round 18 measured this id_b-alone
    #    layout SLOWER and discarded it — under the then-pinned
    #    sort-merge strategy, where it just grew the per-partition
    #    sort; the hash build has no sort, which flips the verdict.)
    # 3. The pair-size joins reuse the agg's id_b partitioning (sb
    #    joins exchange-free; only the 8.3M-pair sa join re-keys).
    ta = never_broadcast_hash(tok.select(F.col("doc_id").alias("id_a"), "h"))
    tb = never_broadcast_hash(
        tok.select(F.col("doc_id").alias("id_b"), "h").repartition(
            n_part, "id_b"
        )
    )
    common = (
        cand.join(ta, "id_a")
        .repartition(n_part, "id_b")
        .join(tb, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if obs_common is not None:
        common = common.observe(obs_common, F.count(F.lit(1)).alias("n"))
    sa = never_broadcast(
        sized.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    )
    sb = never_broadcast(
        sized.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    )
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CAST(n_common * 10000 div (na + nb - n_common) AS BIGINT)"
            ).alias("jaccard_bp"),
        )
        .filter(F.col("jaccard_bp") >= _PREFIX_JACCARD_BP)
    )


def dedup_prefix_filter_observed(spark: SparkSession, sf_dir: str):
    """Bench instrumentation: the same plan as ``dedup_prefix_filter``
    with Observations on the candidate and verify frames.  Returns
    ``(df, obs_cand, obs_common)``; read ``obs.get["n"]`` after an
    action to get the measured candidate-pair / verify-output counts."""
    from pyspark.sql import Observation

    obs_cand = Observation("pf_candidates")
    obs_common = Observation("pf_verify")
    plan = _prefix_filter_plan(spark, sf_dir, obs_cand, obs_common)
    return plan, obs_cand, obs_common


@query("dedup_prefix_filter", oracle=_PREFIX_ORACLE)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join via prefix filtering (PPJoin-style): find
    document pairs with token-set Jaccard >= 0.70 by joining only each
    document's PREFIX — its rarest ``n - ceil(0.7*n) + 1`` tokens
    under a global (document-frequency, token) order.  Two sets with
    Jaccard >= t MUST share a prefix token (pigeonhole), so candidate
    generation is exact, and because prefixes keep the RAREST tokens,
    boilerplate never generates candidates — the structural opposite
    of (and complement to) ``dedup_minhash_lsh``'s probabilistic
    banding: no false negatives, candidate volume governed by rare-
    token co-occurrence.

    Scale shape: tokens are hashed to 16-hex-char md5 digests at the
    tokenizer (digests-not-bodies — the df rollup, rarity rank, and
    both joins shuffle fixed-width digests, never raw token strings;
    exactness is preserved because the mapping is injective on any
    realistic vocabulary and BOTH engines apply it, so a collision
    would merge the same two tokens in each).  Token df is one rollup;
    the per-doc rarity rank is a window partitioned by doc_id; the
    candidate join runs prefix x prefix (each ~0.3n of the rarest
    digests) with the in-join length filter
    ``10*min(na,nb) >= 7*max(na,nb)`` (J <= min/max, so it
    cannot drop a true pair); verification joins the distinct digest
    sets of candidate pairs only.  All-integer Jaccard in basis
    points; ceil(0.7n) computed as ``(7n + 9) div 10`` in both
    engines.  Candidate volume is output-bound, not corpus-bound: on
    a corpus where a large fraction of ALL pairs are true near-dups
    (this fixture plants dense template cliques — ~40% of pairs
    exceed the threshold), ANY exact method must verify ~that many
    pairs; the prefix+length filters bound the overhead to ~2x the
    true-pair count here.  The heavy-token escape valve at real
    scale is the same df cap discipline as ``minhash_lsh_eval`` —
    at the cost of exactness, which is the point of this operator.
    """
    return _prefix_filter_plan(spark, sf_dir)


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


@query("lsh_band_load_histogram", oracle=_BAND_HIST_ORACLE)
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


@query("token_df_heavy_hitters", oracle=_HEAVY_HITTERS_ORACLE)
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


@query("df_cap_candidate_curve", oracle=_DF_CAP_ORACLE)
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


@query("near_dup_source_matrix", oracle=_SOURCE_MATRIX_ORACLE)
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


@query("jaccard_threshold_curve", oracle=_JACCARD_CURVE_ORACLE)
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


@query("minhash_calibration", oracle=_CALIBRATION_ORACLE)
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
)
def dedup_prefix_filter_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-cap escape valve of :func:`~awsbatch_mapreduce_spark.
    plans.dedup.dedup_prefix_filter`, made first-class: tokens with
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


_BUCKET_CAP = 48


_LSH_CAPPED_ORACLE = f"""
    WITH {_SH_SQL},
    {_sig_sql()},
    {_BANDS_SQL},
    ok AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) <= {_BUCKET_CAP}),
    capped AS (SELECT bands.doc_id, bands.bk FROM bands JOIN ok USING (bk)),
    {_cand_sql("capped")},
    {_VERIFY_SQL}
    SELECT id_a, id_b,
           FLOOR((n_common * 1.0 / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM inter
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
"""


@query("dedup_minhash_lsh_bucket_capped", oracle=_LSH_CAPPED_ORACLE)
def dedup_minhash_lsh_bucket_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash-LSH near-dup with a band-bucket size cap — the skew
    escape valve for the LSH ladder itself.  A boilerplate mega-clique
    puts its whole membership into ONE band bucket, whose self-join is
    quadratic in clique size (the round-7 skew rehearsal measured a 1%
    clique multiplying LSH output 18x at sf1); capping bucket size at
    48 sheds exactly those pathological buckets before the candidate
    join, bounding per-bucket work at cap^2 regardless of corpus shape.
    The shed is corpus-dependent and deliberate: a clique that wide is
    exact-dedup's job (``dedup_exact`` collapses byte-identical docs
    first in the production funnel), not pairwise verification's.

    Same plan pins as the uncapped operator (every data-scaled join
    side sort-merge); the cap's semi-join runs on the O(buckets) band
    frame and is itself pinned.
    """
    from awsbatch_mapreduce_spark.operators.hints import never_broadcast
    from awsbatch_mapreduce_spark.functions.rounding import dround

    sh = shingles(load_table(spark, sf_dir, "documents")).localCheckpoint()
    bands = band_keys(signatures(sh)).localCheckpoint()
    ok = never_broadcast(
        bands.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") <= _BUCKET_CAP)
        .select("bk")
    )
    capped = bands.join(ok, "bk", "semi")
    cand = (
        candidate_pairs(capped)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    inter = shared_shingles(cand, sh)
    return inter.select(
        "id_a",
        "id_b",
        dround(
            F.col("n_common")
            * 1.0
            / (F.col("na") + F.col("nb") - F.col("n_common")),
            4,
        ).alias("jaccard"),
    )


_SHINGLE_CAPS = [16, 32, 64, 128, 256]


_SHINGLE_CAP_ORACLE = f"""
    WITH {_SH_SQL.strip().rstrip()},
    df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    caps AS (SELECT unnest([{", ".join(str(c) for c in _SHINGLE_CAPS)}]) AS cap)
    SELECT CAST(cap AS BIGINT) AS cap,
           CAST(COALESCE(SUM(CASE WHEN df <= cap THEN 1 END), 0) AS BIGINT)
             AS n_shingles_kept,
           CAST(COALESCE(SUM(CASE WHEN df <= cap THEN df * (df - 1) // 2 END), 0)
             AS BIGINT) AS candidate_pairs,
           CAST(COALESCE(SUM(CASE WHEN df > cap THEN 1 END), 0) AS BIGINT)
             AS n_shingles_dropped,
           CAST(COALESCE(SUM(CASE WHEN df > cap THEN df END), 0) AS BIGINT)
             AS postings_dropped
    FROM df CROSS JOIN caps
    GROUP BY cap
"""


@query("shingle_df_cap_curve", oracle=_SHINGLE_CAP_ORACLE)
def shingle_df_cap_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair volume vs document-frequency cap over the SAME
    3-token shingles the LSH ladder uses — the shingle-keyed twin of
    ``df_cap_candidate_curve`` (whose docstring scopes itself to token
    caps; ADVICE r6 asked for this curve to genuinely price
    ``minhash_lsh_eval``'s df > 64 shingle cut).  For each cap: the
    shingles kept, the worst-case candidate pairs they imply
    (df*(df-1)/2), and the shingles/postings the cap discards.

    Scale shape: one shingle explode (shared builder with the dedup
    ladder, ``operators.minhash.shingles``), one shingle-keyed rollup with
    map-side partials, a 5-way literal explode, a 5-group aggregate —
    no joins; strictly cheaper than the LSH eval it tunes.
    """
    sh = shingles(load_table(spark, sf_dir, "documents"))
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    caps = F.explode(F.array(*[F.lit(c) for c in _SHINGLE_CAPS])).alias("cap")
    curve = df.select("df", caps)
    kept = F.col("df") <= F.col("cap")
    return curve.groupBy(F.col("cap").cast("bigint").alias("cap")).agg(
        F.coalesce(F.sum(F.when(kept, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_shingles_kept"),
        F.coalesce(
            F.sum(F.when(kept, F.expr("df * (df - 1) div 2"))), F.lit(0)
        )
        .cast("bigint")
        .alias("candidate_pairs"),
        F.coalesce(F.sum(F.when(~kept, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_shingles_dropped"),
        F.coalesce(F.sum(F.when(~kept, F.col("df"))), F.lit(0))
        .cast("bigint")
        .alias("postings_dropped"),
    )


_CLIQUE_HIST_ORACLE = """
    WITH g AS (SELECT md5(text) AS fp, COUNT(*) AS n
               FROM documents GROUP BY 1)
    SELECT CAST(n AS BIGINT) AS clique_size,
           CAST(COUNT(*) AS BIGINT) AS n_cliques,
           CAST(n * COUNT(*) AS BIGINT) AS n_docs
    FROM g GROUP BY n
"""


@query("dup_clique_size_histogram", oracle=_CLIQUE_HIST_ORACLE)
def dup_clique_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of exact-duplicate clique sizes: how many
    fingerprint groups exist at each multiplicity, and how many docs
    they hold.  The corpus-health read behind every cap in the dedup
    ladder: wide cliques are where pairwise output goes quadratic (the
    round-7 skew rehearsal measured a single 500-doc clique multiplying
    near-dup output 18x), and this histogram is the early warning that
    says whether `dedup_exact`'s keep-one collapse has been run before
    the pair emitters — the production ordering that keeps
    `dedup_minhash_lsh_bucket_capped`'s shed at zero.

    Scale shape: one digest-keyed rollup (16-byte md5 shuffle keys,
    never bodies) and one |distinct sizes|-bounded rollup on top —
    map-side partials everywhere, no joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        groups.groupBy(F.col("n").cast("bigint").alias("clique_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cliques"))
        .select(
            "clique_size",
            "n_cliques",
            (F.col("clique_size") * F.col("n_cliques"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


# --- split-leakage audit -------------------------------------------------

_SPLIT_LEAK_ORACLE = """
    WITH d AS (
      SELECT md5(substr(text, 1, 24)) AS fp,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
               % 100 AS b_id,
             ('0x' || substr(md5(md5(substr(text, 1, 24))), 1, 8))::UBIGINT
               % 100 AS b_ct
      FROM documents),
    m AS (
      SELECT 'by_doc_id' AS split_mode, fp,
             CASE WHEN b_id < 80 THEN 'train'
                  WHEN b_id < 90 THEN 'val' ELSE 'test' END AS split
      FROM d
      UNION ALL
      SELECT 'by_content', fp,
             CASE WHEN b_ct < 80 THEN 'train'
                  WHEN b_ct < 90 THEN 'val' ELSE 'test' END
      FROM d),
    g AS (SELECT split_mode, fp, split, COUNT(*) AS ns
          FROM m GROUP BY 1, 2, 3),
    c AS (SELECT split_mode, fp,
                 SUM(ns) AS n,
                 SUM(ns * (ns - 1) // 2) AS same_pairs
          FROM g GROUP BY 1, 2)
    SELECT split_mode,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_dup_pairs,
           CAST(SUM(n * (n - 1) // 2 - same_pairs) AS BIGINT)
             AS n_leaked_pairs,
           CAST(SUM(n * (n - 1) // 2 - same_pairs) * 1000000
                // GREATEST(SUM(n * (n - 1) // 2), 1) AS BIGINT)
             AS leak_ppm
    FROM c GROUP BY 1
"""


@query("split_leakage_audit", oracle=_SPLIT_LEAK_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the train/val/test split leak duplicate content across the
    boundary?  Audits two split functions against the corpus's
    near-dup clique structure — groups keyed on the same 24-char
    content prefix that ``dedup_canonical_assignment``'s pair
    generator uses (the fixture has such groups at every SF; byte-
    exact dups would be a stricter, sparser key): the id-keyed
    80/10/10 split (``train_val_test_split``'s rule — the classic
    bug, because copies of one document carry different doc_ids and
    land in different splits) and a content-keyed split (bucket on
    the group key — all copies travel together, leakage provably
    zero).  One row per mode: total within-clique pairs, pairs
    crossing a split boundary, and the leak rate in ppm.

    The pair counts are computed WITHOUT a pair join: for a clique of
    n docs with n_s per split, leaked = C(n,2) - sum_s C(n_s,2) —
    pure per-fingerprint aggregation, so a 500-doc boilerplate clique
    costs one histogram row, not 125k pair rows.

    Scale shape: two digest-keyed rollups (16-byte md5 shuffle keys)
    and a 2-row final aggregate; no joins, no pair materialization,
    map-side partials everywhere.  Same cost profile as
    ``dedup_exact`` at any corpus size.
    """
    from awsbatch_mapreduce_spark.plans.sampling import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.substring("text", 1, 24))
    d = docs.select(
        fp.alias("fp"),
        md5_bucket("doc_id", 100).alias("b_id"),
        md5_bucket(fp, 100).alias("b_ct"),
    )

    def _split(b):
        return (
            F.when(F.col(b) < 80, "train")
            .when(F.col(b) < 90, "val")
            .otherwise("test")
        )

    m = d.select(
        F.lit("by_doc_id").alias("split_mode"), "fp", _split("b_id").alias("split")
    ).unionAll(
        d.select(
            F.lit("by_content").alias("split_mode"),
            "fp",
            _split("b_ct").alias("split"),
        )
    )
    g = m.groupBy("split_mode", "fp", "split").agg(
        F.count(F.lit(1)).alias("ns")
    )
    c = g.groupBy("split_mode", "fp").agg(
        F.sum("ns").alias("n"),
        F.sum(F.expr("ns * (ns - 1) div 2")).alias("same_pairs"),
    )
    pairs = F.sum(F.expr("n * (n - 1) div 2"))
    leaked = F.sum(F.expr("n * (n - 1) div 2 - same_pairs"))
    return (
        c.groupBy("split_mode")
        .agg(
            pairs.cast("bigint").alias("n_dup_pairs"),
            leaked.cast("bigint").alias("n_leaked_pairs"),
        )
        .withColumn(
            "leak_ppm",
            F.expr(
                "CAST(n_leaked_pairs * 1000000"
                " div GREATEST(n_dup_pairs, CAST(1 AS BIGINT)) AS BIGINT)"
            ),
        )
    )


# --- near-dup component-size histogram -----------------------------------

_COMPONENT_HIST_ORACLE = """
    WITH RECURSIVE pairs AS (
      SELECT prev AS id_a, doc_id AS id_b FROM (
        SELECT doc_id,
               LAG(doc_id) OVER (PARTITION BY substr(text, 1, 24)
                                 ORDER BY doc_id) AS prev
        FROM documents)
      WHERE prev IS NOT NULL),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, root) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
    comp AS (SELECT node, MIN(root) AS canonical FROM reach GROUP BY node),
    sizes AS (SELECT canonical, COUNT(*) AS s FROM comp GROUP BY canonical)
    SELECT CAST(s AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(s * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY s
"""


@query("near_dup_component_histogram", oracle=_COMPONENT_HIST_ORACLE)
def near_dup_component_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup CONNECTED COMPONENTS — the
    post-closure twin of ``dup_clique_size_histogram``: that probe
    reads raw exact-fingerprint groups, this one reads what keep-one
    dedup will actually collapse after the closure chains the pair
    list back together (the generator emits only consecutive-id edges
    per group, so a size-n family reassembles from an (n-1)-edge
    chain).  With THIS generator the pair groups are disjoint
    (one 24-char prefix per doc), so components equal prefix groups —
    pinned as a test invariant; with production pair generators
    (MinHash ∪ embedding ∪ exact), groups overlap and the gap between
    the two histograms measures the chaining effect that assembles
    mega-components out of mild pairwise overlap.

    Composed from ``dedup_canonical_assignment``'s registered builder
    (one closure implementation, two consumers, so
    the oracles cannot drift): component size = members mapped to a
    canonical + the canonical itself.  Singleton docs (no near-dup
    edge) are out of scope by construction — the histogram prices the
    collapse, and singletons don't collapse.

    Scale shape: the closure's own cost (pointer doubling, O(log L)
    rounds, label frames localCheckpoint-ed) plus two bounded rollups
    — the size histogram domain is |distinct component sizes|.
    """
    from awsbatch_mapreduce_spark.plans.iterative import (
        dedup_canonical_assignment,
    )

    assignment = dedup_canonical_assignment(spark, sf_dir)
    sizes = assignment.groupBy("canonical_id").agg(
        (F.count(F.lit(1)) + F.lit(1)).alias("component_size")
    )
    return (
        sizes.groupBy("component_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
        .select(
            F.col("component_size").cast("bigint").alias("component_size"),
            "n_components",
            (F.col("component_size") * F.col("n_components"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


# --- duplication-vs-quality correlation ----------------------------------

_DUP_QUALITY_ORACLE = """
    WITH d AS (
      SELECT doc_id, substr(text, 1, 24) AS p,
             FLOOR((0.4 * LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
                   + 0.3 * FLOOR((len(list_filter(string_split(text, ' '),
                                       x -> x IN ('the', 'a')))
                         * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
                   + 0.3 * FLOOR((len(list_distinct(string_split(text, ' ')))
                         * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
                   ) * 10000.0 + 0.5) AS q_fp
      FROM documents),
    g AS (SELECT p, COUNT(*) AS gs FROM d GROUP BY p)
    SELECT CAST(gs AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(q_fp AS BIGINT)) // COUNT(*) AS BIGINT)
             AS mean_quality_fp
    FROM d JOIN g USING (p)
    GROUP BY gs
"""


@query("dup_quality_correlation", oracle=_DUP_QUALITY_ORACLE)
def dup_quality_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does duplicated content score lower on the quality heuristic?
    Mean quality (1e-4 fixed point, floor-mean — exact integer
    arithmetic) bucketed by the document's near-dup group size (the
    same 24-char-prefix generator as the canonical-assignment ladder;
    size 1 = unique docs).  The empirical check behind the standard
    curation ordering — if mean quality falls as group size rises
    (boilerplate, mirrored pages), dedup-before-quality-filter saves
    the filter from scoring mass that dedup would drop anyway.

    Composition: quality comes from the shared ``with_quality``
    formula (one definition, three consumers), so this probe cannot
    drift from ``text_quality_score``.

    Scale shape: the group-size frame is O(distinct prefixes) and the
    membership join runs docs x sizes on the prefix key — data-scaled
    on both sides, so it carries the dedup ladder's
    ``never_broadcast`` pin; the final rollup is bounded by |distinct
    group sizes|.
    """
    from awsbatch_mapreduce_spark.operators.hints import never_broadcast
    from awsbatch_mapreduce_spark.plans.llm_text import with_quality

    docs = load_table(spark, sf_dir, "documents")
    d = with_quality(docs).select(
        F.substring("text", 1, 24).alias("p"),
        F.floor(F.col("quality") * 10000.0 + F.lit(0.5))
        .cast("bigint")
        .alias("q_fp"),
    )
    g = d.groupBy("p").agg(F.count(F.lit(1)).alias("gs"))
    return (
        d.join(never_broadcast(g), "p")
        .groupBy(F.col("gs").cast("bigint").alias("group_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("q_fp").alias("sum_fp"),
        )
        .select(
            "group_size",
            "n_docs",
            F.expr("CAST(sum_fp div n_docs AS BIGINT)").alias(
                "mean_quality_fp"
            ),
        )
    )


# --- substring-dedup retention (the transformation, not just the metric) --

_SPAN8 = 8


_SPAN_RETENTION_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    spans AS (
      SELECT doc_id, i, md5(array_to_string(t[i:i+{_SPAN8 - 1}], ' ')) AS sh
      FROM tok, UNNEST(range(1, len(t) - {_SPAN8 - 2})) AS u(i)
      WHERE len(t) >= {_SPAN8}),
    dup AS (
      SELECT sh FROM spans GROUP BY sh
      HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT DISTINCT s.doc_id, s.i + o AS pos
      FROM spans s JOIN dup USING (sh), UNNEST(range(0, {_SPAN8})) AS r(o)),
    rem AS (SELECT doc_id, COUNT(*) AS nrem FROM cov GROUP BY doc_id),
    n AS (SELECT doc_id, len(t) AS nt FROM tok)
    SELECT CAST(n.doc_id AS BIGINT) AS doc_id,
           CAST(nt AS BIGINT) AS n_tokens,
           CAST(COALESCE(rem.nrem, 0) AS BIGINT) AS n_tokens_removed,
           CAST((nt - COALESCE(rem.nrem, 0)) * 1000000 // nt AS BIGINT)
             AS kept_ppm
    FROM n LEFT JOIN rem USING (doc_id)
"""


@query("span_dedup_retention", oracle=_SPAN_RETENTION_ORACLE)
def span_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup as a TRANSFORMATION, not just a metric:
    drop every token position covered by an 8-token span that also
    occurs in another document (cf. the suffix-array substring dedup
    of Lee et al. 2022), and report per document how many tokens
    survive.  ``duplicated_span_fraction`` measures the signal; this
    is the rewrite it prices — a doc quoting a 5% boilerplate block
    keeps 95% of its tokens, two mirrored docs keep ~0.

    Exactness notes: coverage is the UNION of overlapping dup spans
    (distinct (doc, position)), so nested/overlapping repeats are not
    double-counted; spans repeated only WITHIN one document are kept
    (cross-doc df >= 2, same rule as the metric); docs shorter than 8
    tokens have no spans and keep everything.

    Scale shape: spans hash to md5 digests before any shuffle (digest
    discipline); the df rollup and the join-back carry 16-byte keys;
    the position explode is a bounded x8 map-side expansion of only
    the DUPLICATED span positions.  Every join runs data-scaled x
    data-scaled and carries the ``never_broadcast`` pin.
    """
    from awsbatch_mapreduce_spark.operators.hints import never_broadcast

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    spans = (
        t.filter(F.expr(f"size(t) >= {_SPAN8}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {_SPAN8 - 1}),"
                    f" i -> struct(i AS i,"
                    f" md5(concat_ws(' ', slice(t, i, {_SPAN8}))) AS sh))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.i").alias("i"), F.col("s.sh").alias("sh"))
    )
    dup = (
        spans.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    cov = (
        spans.join(never_broadcast(dup), "sh")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(i, i + {_SPAN8 - 1})")).alias("pos"),
        )
        .distinct()
    )
    rem = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nrem"))
    n = t.select("doc_id", F.size("t").alias("nt"))
    return (
        n.join(never_broadcast(rem), "doc_id", "left")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("nt").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("nrem"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens_removed"),
            F.expr(
                "CAST((nt - COALESCE(nrem, 0)) * 1000000 div nt AS BIGINT)"
            ).alias("kept_ppm"),
        )
    )
