"""Wave-4 surface extensions: substring-level duplication scoring,
join-key skew profiling, and content-defined chunk dedup.

Registered with ``wave=4``: they sort behind every earlier ungraded
query in ``registry.grading_order``, so they never displace older
queries from a driver grading window.

All three are corpus/ops tools a 100 TB training-data pipeline runs
before (or because of) the heavier jobs already in the registry:

- ``duplicated_span_fraction`` is the *substring*-level dedup signal
  (the measurement behind suffix-array substring dedup): MinHash
  answers "are two documents near-identical?", this answers "how much
  of THIS document is copied from anywhere else?" — the quantity
  curation thresholds on before dropping or trimming a document.
- ``join_key_skew_profile`` is the diagnostic that decides *when* the
  skew-salted join (``salted_join_priority_revenue``) is worth its
  extra exchange: heavy-hitter keys with corpus share, exactly the
  numbers you read before picking a salt factor.
- ``content_defined_chunks`` is boundary-based (shift-robust) chunk
  dedup — the rsync/CDC trick: a one-token insertion changes every
  fixed window but only one content-defined chunk, so shared-chunk
  counts survive edits that break ``doc_chunk_windows``-style fixed
  windows.

Cross-engine determinism follows the repo rules: counts and exact
integer ratios (``* 1000000 div``) only — no float accumulates in any
of the three; md5-prefix integers (``conv(substr(md5 ..))`` vs
``('0x' || substr(md5 ..))::UBIGINT``) give identical chunk
boundaries in both engines.

Reference parity note: the reference pipeline (whole aggregate
surface = one 2-D bin count, ``src/awsbatch-map/main.py:76-77``) has
no analogue; these extend the engine along its users' next needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.operators.minhash import (
    _BANDS_SQL,
    _SH_SQL,
    _cand_sql,
    _sig_sql,
    band_keys,
    candidate_pairs,
    shingles,
    signatures,
)
from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

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


@query("duplicated_span_fraction", oracle=_DUP_SPAN_ORACLE, wave=4)
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


_SKEW_ORACLE = """
    WITH c AS (
      SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
    t AS (SELECT SUM(cnt) AS total FROM c),
    top AS (
      SELECT l_suppkey, cnt FROM c ORDER BY cnt DESC, l_suppkey LIMIT 20)
    SELECT l_suppkey,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_suppkey)
                AS BIGINT) AS rk
    FROM top, t
"""


@query("join_key_skew_profile", oracle=_SKEW_ORACLE, wave=4)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a join key (``lineitem.l_suppkey``):
    the 20 heaviest keys with row count and parts-per-million share of
    the table — the diagnostic read before choosing between a plain
    shuffle join, AQE skew splitting, and the explicit salted plan
    (``salted_join_priority_revenue``).  A key above ~1/partitions of
    the table is the one that will straggle.

    Scale shape: one map-side-partial count per key (shuffle bounded
    by the key domain), distributed TakeOrderedAndProject for the
    top-20, total as a broadcast scalar, rank window over the 20
    survivors only.  Deterministic key tie-break.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("l_suppkey")).limit(20)
    wr = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("cnt"), F.asc("l_suppkey")
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "l_suppkey",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr("CAST(cnt * 1000000 div total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .withColumn("rk", F.row_number().over(wr).cast("bigint"))
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


@query("content_defined_chunks", oracle=_CDC_ORACLE, wave=4)
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


@query("minhash_lsh_eval", oracle=_LSH_EVAL_ORACLE, wave=4)
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


_VOCAB_GROWTH_ORACLE = """
    WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents),
    intro AS (SELECT w, MIN(doc_id) AS intro FROM tok GROUP BY w),
    cp AS (SELECT p, (SELECT m FROM mx) * p // 100 AS cutoff
           FROM (VALUES (20), (40), (60), (80), (100)) v(p))
    SELECT p AS pct,
           CAST(cutoff AS BIGINT) AS cutoff_doc,
           CAST((SELECT COUNT(*) FROM documents d
                 WHERE d.doc_id <= cutoff) AS BIGINT) AS n_docs,
           CAST((SELECT SUM(len(string_split(d.text, ' ')))
                 FROM documents d
                 WHERE d.doc_id <= cutoff) AS BIGINT) AS n_tokens,
           CAST((SELECT COUNT(*) FROM intro
                 WHERE intro.intro <= cutoff) AS BIGINT) AS vocab_size
    FROM cp
"""


@query("vocab_growth_curve", oracle=_VOCAB_GROWTH_ORACLE, wave=4)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: distinct-token vocabulary size at
    20/40/60/80/100% doc-id prefixes of the corpus, with cumulative
    doc and token counts — the saturation curve that tells a curation
    team whether the next crawl batch still grows the vocabulary or
    only repeats it (the corpus-level twin of per-document
    ``trigram_novelty_score``).

    Scale shape: one token explode feeds a first-seen rollup (shuffle
    keyed by token), then each of the three curves is a 5-key
    aggregate against the broadcast checkpoint table; max(doc_id) is
    a broadcast scalar.  No window, no quadratic join, all integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("m"))
    cp = (
        spark.range(1, 6)
        .select((F.col("id") * 20).cast("int").alias("pct"))
        .crossJoin(F.broadcast(mx))
        .select(
            "pct",
            F.expr("CAST(m * pct div 100 AS BIGINT)").alias("cutoff_doc"),
        )
    )
    intro = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("intro"))
    )
    vocab = (
        intro.crossJoin(F.broadcast(cp))
        .filter(F.col("intro") <= F.col("cutoff_doc"))
        .groupBy("pct", "cutoff_doc")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    dstats = (
        docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("ntok")
        )
        .crossJoin(F.broadcast(cp))
        .filter(F.col("doc_id") <= F.col("cutoff_doc"))
        .groupBy("pct", "cutoff_doc")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
        )
    )
    # left joins from cp so a cutoff preceding the first doc_id still
    # emits its row, mirroring the oracle's scalar-subquery semantics:
    # COUNTs coalesce to 0, the SUM stays NULL (ADVICE r3).
    return (
        cp.join(dstats, ["pct", "cutoff_doc"], "left")
        .join(vocab, ["pct", "cutoff_doc"], "left")
        .select(
            "pct",
            "cutoff_doc",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias(
                "n_docs"
            ),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("vocab_size"), F.lit(0))
            .cast("bigint")
            .alias("vocab_size"),
        )
    )


_HARDNEG_ORACLE = """
    WITH q AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
                      unnest(embedding) AS v
               FROM embeddings WHERE vec_id < 8),
    d AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding) AS v
          FROM embeddings),
    dots AS (
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             MAX(CASE WHEN q.label = d.label THEN 1 ELSE 0 END) AS same,
             SUM(CAST(q.v AS DOUBLE) * CAST(d.v AS DOUBLE)) AS dot,
             SUM(CAST(q.v AS DOUBLE) * CAST(q.v AS DOUBLE)) AS qq,
             SUM(CAST(d.v AS DOUBLE) * CAST(d.v AS DOUBLE)) AS dd
      FROM q JOIN d ON q.i = d.i AND q.vec_id <> d.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id, same,
             FLOOR((dot / (SQRT(qq) * SQRT(dd))) * 10000.0 + 0.5)
               / 10000.0 AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id, same
               ORDER BY FLOOR((dot / (SQRT(qq) * SQRT(dd))) * 10000.0
                              + 0.5) / 10000.0 DESC,
                        neighbor_id) AS rk
      FROM dots)
    SELECT query_id,
           CAST(MAX(CASE WHEN same = 1 AND rk = 1 THEN neighbor_id END)
                AS BIGINT) AS pos_id,
           MAX(CASE WHEN same = 1 AND rk = 1 THEN cosine END)
             AS pos_cosine,
           CAST(MAX(CASE WHEN same = 0 AND rk = 1 THEN neighbor_id END)
                AS BIGINT) AS neg_id,
           MAX(CASE WHEN same = 0 AND rk = 1 THEN cosine END)
             AS neg_cosine
    FROM scored GROUP BY query_id
"""


@query("hard_negative_mining", oracle=_HARDNEG_ORACLE, wave=4)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding training: for each query
    vector, the closest SAME-label neighbor (positive) and the closest
    DIFFERENT-label neighbor (hard negative) by cosine — the pair
    selection step of triplet/InfoNCE dataset construction, where the
    hard negative (not a random one) is what makes the loss
    informative.

    Scale shape: identical to ``knn_bruteforce_cosine`` — broadcast
    query batch, one corpus scan, per-(query, class) window over
    rounded cosines with id tie-breaks — then a 2-row-per-query pivot.
    At 100 TB the query batch stays broadcast and the corpus streams;
    swap the scan for the PQ/IVF candidate set when exactness isn't
    required.
    """
    from awsbatch_mapreduce_spark.functions.rounding import dround
    from awsbatch_mapreduce_spark.plans.similarity import _dot, _l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("dv"),
    )
    cosine = dround(
        _dot(F.col("qv"), F.col("dv"))
        / (_l2_norm(F.col("qv")) * _l2_norm(F.col("dv"))),
        4,
    )
    scored = (
        d.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(F.col("qlabel") == F.col("nlabel"), 1)
            .otherwise(0)
            .alias("same"),
            cosine.alias("cosine"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id", "same").orderBy(
                    F.desc("cosine"), F.asc("neighbor_id")
                )
            ),
        )
    )
    top = F.col("rk") == 1
    pos, neg = F.col("same") == 1, F.col("same") == 0
    return scored.groupBy("query_id").agg(
        F.max(F.when(pos & top, F.col("neighbor_id")))
        .cast("bigint")
        .alias("pos_id"),
        F.max(F.when(pos & top, F.col("cosine"))).alias("pos_cosine"),
        F.max(F.when(neg & top, F.col("neighbor_id")))
        .cast("bigint")
        .alias("neg_id"),
        F.max(F.when(neg & top, F.col("cosine"))).alias("neg_cosine"),
    )


_INC_CUTOFF = "1997-06-01"

_INC_MERGE_ORACLE = f"""
    SELECT o_orderpriority,
           FLOOR((SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  / 100.0) * 100.0 + 0.5) / 100.0 AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
"""


@query("incremental_agg_merge", oracle=_INC_MERGE_ORACLE, wave=4)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: revenue per order priority
    computed as partial-state aggregates over a base segment
    (o_orderdate < 1997-06-01) and a delta segment (>=), merged by
    state addition — the materialized-view maintenance pattern where
    yesterday's state is stored and only the new partition is scanned.
    The oracle computes the direct single-pass aggregate, so the
    driver hash proves merge(partial(base), partial(delta)) == full
    recompute.

    Scale shape: each partial is a map-side-combined aggregate over a
    bounded key domain (5 priorities); the merge re-aggregates 2x5
    rows.  Exactness comes from integer-cent partial sums — float
    partials would make the merge order-dependent and the proof
    meaningless.  At 100 TB the base partial is a stored table and
    only the delta scan runs per refresh.
    """
    from awsbatch_mapreduce_spark.functions.rounding import dround

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.sum(cents).alias("cents_part"),
            F.count(F.lit(1)).alias("n_part"),
        )

    cut = F.lit(_INC_CUTOFF).cast("timestamp")
    base = partial(orders.filter(F.col("o_orderdate") < cut))
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cents_part").alias("cents_total"),
            F.sum("n_part").alias("n_orders"),
        )
    )
    return merged.select(
        "o_orderpriority",
        dround(F.col("cents_total") / 100.0, 2).alias("revenue"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
    )


_BOOT_REPS = 32

_BOOT_ORACLE = f"""
    WITH reps AS (SELECT unnest(range(0, {_BOOT_REPS})) AS rep),
    w AS (
      SELECT o_orderpriority AS prio, rep,
             CASE (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                    || '#' || CAST(rep AS VARCHAR)), 1, 8))::UBIGINT % 4)
               WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS w,
             CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders CROSS JOIN reps),
    rm AS (
      SELECT prio, rep,
             FLOOR((SUM(w * cents) * 1.0 / (100.0 * SUM(w)))
                   * 10000.0 + 0.5) / 10000.0 AS m
      FROM w GROUP BY 1, 2),
    ci AS (SELECT prio, list_sort(list(m)) AS ms FROM rm GROUP BY 1),
    mean AS (
      SELECT o_orderpriority AS prio,
             FLOOR((SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    * 1.0 / (100.0 * COUNT(*))) * 10000.0 + 0.5)
               / 10000.0 AS mean_rev,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1)
    SELECT mean.prio AS o_orderpriority,
           CAST(mean.n_orders AS BIGINT) AS n_orders,
           mean.mean_rev,
           ci.ms[2] AS ci_lo,
           ci.ms[{_BOOT_REPS - 1}] AS ci_hi
    FROM mean JOIN ci ON ci.prio = mean.prio
"""


@query("bootstrap_ci_order_value", oracle=_BOOT_ORACLE, wave=4)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~90% bootstrap confidence interval for mean order value per
    priority, via the deterministic multiplier bootstrap: each of 32
    replicates reweights every order by hash(orderkey, rep) -> weight
    in {0, 1, 1, 2} (mean 1), and the CI is the 2nd/31st of the 32
    sorted replicate means.  This is THE scalable bootstrap — no
    resampled copies of the data, just 32 weighted aggregates in one
    shuffle — and the hash-derived weights make it reproducible and
    oracle-checkable, where rng-based resampling would not be.

    Scale shape: the replicate cross join is rows x 32 in the map
    stage feeding ONE shuffle bounded by (priority x rep) = 160 keys;
    replicate means use exact integer-cent sums with a single rounded
    division, and the quantile picks elements of a 32-value sorted
    array per group (bounded, engine-independent).
    """
    from awsbatch_mapreduce_spark.functions.rounding import dround

    orders = load_table(spark, sf_dir, "orders")
    reps = spark.range(_BOOT_REPS).select(F.col("id").cast("int").alias("rep"))
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    wcol = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("#"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 4
    )
    w = (
        orders.select(
            F.col("o_orderpriority").alias("prio"), F.col("o_orderkey"),
            cents.alias("cents"),
        )
        .crossJoin(F.broadcast(reps))
        .select(
            "prio",
            "rep",
            "cents",
            F.when(wcol == 0, 0).when(wcol == 3, 2).otherwise(1).alias("w"),
        )
    )
    rm = w.groupBy("prio", "rep").agg(
        dround(
            F.sum(F.col("w") * F.col("cents"))
            * 1.0
            / (100.0 * F.sum("w")),
            4,
        ).alias("m")
    )
    ci = rm.groupBy("prio").agg(
        F.array_sort(F.collect_list("m")).alias("ms")
    )
    mean = orders.groupBy(
        F.col("o_orderpriority").alias("prio")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dround(
            F.sum(cents) * 1.0 / (100.0 * F.count(F.lit(1))), 4
        ).alias("mean_rev"),
    )
    return mean.join(ci, "prio").select(
        F.col("prio").alias("o_orderpriority"),
        "n_orders",
        "mean_rev",
        F.element_at("ms", 2).alias("ci_lo"),
        F.element_at("ms", _BOOT_REPS - 1).alias("ci_hi"),
    )


# Banded range join: 30-minute buckets; a purchase in bucket b can only
# match clicks in buckets {b, b-1}, so replicating each purchase twice
# turns the keyless range join into an equi-join on the bucket id.
_BAND_US = 30 * 60 * 1_000_000

_BANDED_RANGE_ORACLE = """
    SELECT c.event_id,
           CAST(COUNT(p.event_id) AS BIGINT) AS n_purchases_30m
    FROM events c LEFT JOIN events p
      ON p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    GROUP BY c.event_id
"""


@query("range_join_banded_global", oracle=_BANDED_RANGE_ORACLE, wave=4)
def range_join_banded_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join with NO equi-key: purchases within 30 minutes
    after each click, across ALL users.  ``range_join_error_context``
    rides its natural user_id key; when no such key exists the naive
    plan is a cartesian range filter — the classic rescue is banding:
    bucket time at the window width, replicate the probe side into the
    two buckets it can match (b, b-1), and the range join becomes an
    equi-join on the bucket id plus an in-partition filter.

    Scale shape: shuffle keys are bucket ints, volume = clicks +
    2 x purchases (linear, factor 2 is the replication), no broadcast
    requirement on either side — this is the plan that survives when
    BOTH sides are fact-scale.  Worst case per bucket is bounded by
    event rate x window, the quantity you'd size buckets by in
    production.  Zero-match clicks are restored by a left join against
    the aggregated matches (keys: event ids).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        F.col("ts").alias("c_ts"),
        F.floor(us / _BAND_US).cast("bigint").alias("cb"),
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("ts").alias("p_ts"),
            F.floor(us / _BAND_US).cast("bigint").alias("pb"),
        )
        .select(
            "p_ts",
            F.explode(
                F.array(F.col("pb"), F.col("pb") - F.lit(1))
            ).alias("cb"),
        )
    )
    # big-big by design: both event streams scale with data, so the
    # banded equi-join must never be broadcast (operators/hints.py)
    matched = (
        clicks.join(never_broadcast(purch), "cb")
        .filter(
            (F.col("p_ts") > F.col("c_ts"))
            & (
                F.col("p_ts")
                <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")
            )
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return clicks.select("event_id").join(matched, "event_id", "left").select(
        "event_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias(
            "n_purchases_30m"
        ),
    )


_WSAMPLE_ORACLE = """
    WITH p AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  ::UBIGINT // greatest(n_chars, 1) AS BIGINT) AS priority
      FROM documents WHERE n_chars IS NOT NULL),
    top AS (SELECT * FROM p ORDER BY priority, doc_id LIMIT 50)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, priority,
           CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS BIGINT)
             AS rk
    FROM top
"""


@query("weighted_doc_sample", oracle=_WSAMPLE_ORACLE, wave=4)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample: 50 documents drawn with
    probability increasing in document length, via integer priority
    sampling — priority = hash(doc_id) / weight, keep the bottom-k.
    The reproducible replacement for rand()-weighted sampling when a
    curation run must be re-derivable (same corpus in, same sample
    out), e.g. for human-eval slices weighted toward long documents.

    Scale shape: priorities are computed in the map stage from the
    stable id (no rng state, no seed coordination across executors);
    the bottom-k plans as distributed TakeOrderedAndProject with the
    rank window over the 50 survivors.  Integer division keeps the
    priority exact in both engines.
    """
    # greatest(n_chars, 1) + non-NULL filter in BOTH engines: a zero or
    # NULL weight would otherwise make a NULL priority, and NULLs sort
    # first in Spark ASC but last in DuckDB — divergent top-50 sets.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    prio = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) div greatest(n_chars, 1)"
    )
    p = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        prio.alias("priority"),
    )
    top = p.orderBy(F.asc("priority"), F.asc("doc_id")).limit(50)
    wr = Window.partitionBy(F.lit(0)).orderBy(
        F.asc("priority"), F.asc("doc_id")
    )
    return top.withColumn("rk", F.row_number().over(wr).cast("bigint"))


_TEMP_MIX_ORACLE = """
    WITH n AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    s AS (SELECT lang, n_docs,
                 CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 10000.0 + 0.5)
                      AS BIGINT) AS r_fp
          FROM n),
    t AS (SELECT SUM(r_fp) AS tot FROM s)
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(r_fp AS BIGINT) AS root_fp,
           CAST(r_fp * 1000000 // tot AS BIGINT) AS weight_ppm,
           CAST(r_fp * 10000 // tot AS BIGINT) AS docs_per_10k
    FROM s, t
"""


@query("mixture_temperature_weights", oracle=_TEMP_MIX_ORACLE, wave=4)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (mT5-style, alpha = 0.5):
    per-language sampling weight proportional to sqrt(n_docs),
    up-weighting low-resource languages relative to proportional
    sampling — the table a mixture-aware dataloader consumes
    (``corpus_mixture_epochs`` handles the epoch side).

    Scale shape: one bounded-key count per language, a broadcast
    scalar total, integer ppm shares.  sqrt is the single IEEE op on
    an exact integer, quantized before the share division, so the
    cross-engine hash is exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).select(
        "lang",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 10000.0 + 0.5)
        .cast("bigint")
        .alias("r_fp"),
    )
    t = s.agg(F.sum("r_fp").alias("tot"))
    return s.crossJoin(F.broadcast(t)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("r_fp").alias("root_fp"),
        F.expr("CAST(r_fp * 1000000 div tot AS BIGINT)").alias("weight_ppm"),
        F.expr("CAST(r_fp * 10000 div tot AS BIGINT)").alias("docs_per_10k"),
    )


_PAD_BUCKET = 32

_PAD_WASTE_ORACLE = f"""
    WITH d AS (
      SELECT len(string_split(text, ' ')) AS n_tok FROM documents),
    b AS (
      SELECT ((n_tok + {_PAD_BUCKET} - 1) // {_PAD_BUCKET})
               * {_PAD_BUCKET} AS cap,
             n_tok
      FROM d WHERE n_tok > 0)
    SELECT CAST(cap AS BIGINT) AS bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(cap - n_tok) AS BIGINT) AS pad_tokens,
           CAST(SUM(cap - n_tok) * 1000000 // (COUNT(*) * cap)
                AS BIGINT) AS waste_ppm
    FROM b GROUP BY cap
"""


@query("batch_padding_waste", oracle=_PAD_WASTE_ORACLE, wave=4)
def batch_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for length-bucketed batching: bucket
    documents into 32-token length classes (each batch padded to its
    bucket cap) and report the padded-token overhead per bucket — the
    number that decides between plain bucketing and full sequence
    packing (``corpus_pack_sequences``) for a training run.

    Scale shape: token counts come from one map-stage ``size(split)``
    (no explode — lengths, not tokens, aggregate); the rollup key
    domain is bounded by max_len / 32.  Exact integer ratios.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    ).filter(F.col("n_tok") > 0).select(
        "n_tok",
        (
            F.expr(f"CAST((n_tok + {_PAD_BUCKET} - 1) div {_PAD_BUCKET}"
                   f" AS BIGINT)") * _PAD_BUCKET
        ).alias("bucket_cap"),
    )
    return b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        F.sum(F.col("bucket_cap") - F.col("n_tok"))
        .cast("bigint")
        .alias("pad_tokens"),
        F.expr(
            "CAST(sum(bucket_cap - n_tok) * 1000000"
            " div (count(1) * bucket_cap) AS BIGINT)"
        ).alias("waste_ppm"),
    )
