"""LLM-data-pipeline text operators over the ``documents`` fixture.

Deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), text
analysis (token stats, quality scoring, language-ID, fingerprinting) —
first-class engine capabilities for 100 TB training-data curation
(BASELINE.json north star), built purely from JVM-side built-ins
(split/transform/aggregate/md5) so the hot path never crosses into
Python.  The MinHash-LSH format (shingle -> signature -> band key ->
verify) lives in ``operators/minhash.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.functions.rounding import dround

from awsbatch_mapreduce_spark.operators.minhash import (
    _BANDS_SQL,
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
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table


@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS fingerprint,
               CAST(MIN(doc_id) AS BIGINT) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content fingerprint, keep min id.

    At 100 TB this is the canonical first pass: the shuffle key is the
    16-byte digest, not the document body, so exchange volume is
    O(rows), not O(bytes).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.min("doc_id").cast("bigint").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


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


# Shared with wave7's near_dup_source_matrix, which aggregates these
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


@query(
    "dedup_simhash",
    oracle="""
        WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        bits AS (
          SELECT doc_id, j,
                 CASE WHEN SUM(CASE WHEN strpos('89abcdef', substr(md5(tok), j, 1)) > 0
                                    THEN 1 ELSE -1 END) >= 0
                      THEN '1' ELSE '0' END AS bit
          FROM toks, generate_series(1, 16) AS g(j)
          GROUP BY doc_id, j)
        SELECT doc_id, string_agg(bit, '' ORDER BY j) AS simhash16
        FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document from distinct-token md5 high bits.

    Each of the 16 hex digits of a token's md5 contributes its high bit
    (+1/-1); the per-position vote sign is the fingerprint bit.  Docs
    with small Hamming distance are near-dups; bucketing on the
    fingerprint (or its bands) gives the scale path.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    positions = toks.select(
        "doc_id",
        F.md5("tok").alias("h"),
        F.explode(F.sequence(F.lit(1), F.lit(16))).alias("j"),
    )
    bits = positions.groupBy("doc_id", "j").agg(
        F.when(
            F.sum(
                F.when(F.expr("instr('89abcdef', substr(h, j, 1))") > 0, 1).otherwise(
                    -1
                )
            )
            >= 0,
            "1",
        )
        .otherwise("0")
        .alias("bit")
    )
    return bits.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "bit"))),
                lambda x: x["bit"],
            ),
            "",
        ).alias("simhash16")
    )


@query(
    "text_token_stats",
    oracle="""
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars_actual,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_unique_tokens,
               FLOOR((length(text) * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0
                   AS chars_per_token
        FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, chars/token.

    Pure JVM-side split/size — the BPE-ish regex variant is in
    ``functions.text``; this is the whitespace baseline every corpus
    report starts from.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        dround(F.length("text") * 1.0 / F.size(toks), 4).alias("chars_per_token"),
    )


# Shared with wave7's source_quality_profile (which rolls these per-doc
# scores up by source): one SQL body keeps the two oracles in lockstep.
_QUALITY_ORACLE = """
    SELECT doc_id,
           n_tokens,
           stop_ratio,
           unique_ratio,
           FLOOR((0.4 * LEAST(n_tokens / 50.0, 1.0)
                 + 0.3 * stop_ratio + 0.3 * unique_ratio) * 10000.0 + 0.5) / 10000.0 AS quality
    FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               FLOOR((len(list_filter(string_split(text, ' '),
                                     x -> x IN ('the', 'a')))
                     * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
               FLOOR((len(list_distinct(string_split(text, ' ')))
                     * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS unique_ratio
        FROM documents
    )
"""


@query("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length, stopword ratio, lexical diversity.

    The standard pre-training filter shape (Gopher/C4-style rules):
    every term is a JVM-side expression, so scoring 100 TB is a single
    narrow projection with no shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    return with_quality(docs).select(
        "doc_id", "n_tokens", "stop_ratio", "unique_ratio", "quality"
    )


def with_quality(docs: DataFrame) -> DataFrame:
    """Append the quality-score columns (``n_tokens``, ``stop_ratio``,
    ``unique_ratio``, ``quality``) to a documents frame, keeping its
    existing columns — the one Spark-side definition of the formula,
    shared by :func:`text_quality_score` and wave7's per-source rollup
    so the two can't drift."""
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("bigint")
    stop_ratio = dround(
        F.size(F.filter(toks, lambda x: x.isin("the", "a"))) * 1.0 / F.size(toks), 4
    )
    unique_ratio = dround(F.size(F.array_distinct(toks)) * 1.0 / F.size(toks), 4)
    base = docs.select(
        "*",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        unique_ratio.alias("unique_ratio"),
    )
    return base.withColumn(
        "quality",
        dround(
            0.4 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
            + 0.3 * F.col("stop_ratio")
            + 0.3 * F.col("unique_ratio"),
            4,
        ),
    )


@query(
    "text_language_id",
    oracle="""
        SELECT doc_id, lang AS lang_meta,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                         x -> x IN ('the', 'a', 'of', 'and'))) >= 2
                    THEN 'en'
                    WHEN len(list_filter(string_split(text, ' '),
                                         x -> x IN ('el', 'la', 'de', 'y'))) >= 2
                    THEN 'es'
                    ELSE 'unknown' END AS lang_pred
        FROM documents
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram-heuristic family).

    Deterministic rule: >= 2 hits in a language's stopword list wins, in
    fixed priority order.  (The fixture's ``lang`` column is synthetic
    metadata — the predictor runs on the text itself.)
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en_hits = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and")))
    es_hits = F.size(F.filter(toks, lambda x: x.isin("el", "la", "de", "y")))
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_meta"),
        F.when(en_hits >= 2, "en")
        .when(es_hits >= 2, "es")
        .otherwise("unknown")
        .alias("lang_pred"),
    )


@query(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(lower(trim(text))) AS full_fp,
               md5(substr(lower(trim(text)), 1, 64)) AS prefix_fp,
               CAST(length(text) AS BIGINT) AS n_chars_actual
        FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized full + 64-char-prefix digests.

    The prefix digest catches boilerplate-prefix duplicates that full
    hashing misses; both are shuffle-free projections.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("full_fp"),
        F.md5(F.substring(norm, 1, 64)).alias("prefix_fp"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


_BPE_ORACLE = """
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(string_split(text, ' '),
                    w -> CAST(CEIL(len(w) / 4.0) AS BIGINT))) AS BIGINT)
               AS n_bpe_pieces,
           FLOOR((list_sum(list_transform(string_split(text, ' '),
                    w -> CAST(CEIL(len(w) / 4.0) AS BIGINT)))
                  * 1.0 / len(string_split(text, ' '))) * 10000.0 + 0.5)
             / 10000.0 AS pieces_per_word
    FROM documents
"""


@query("text_bpe_token_count", oracle=_BPE_ORACLE)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: length-capped subword pieces (~4 chars /
    piece, the English BPE average) next to the whitespace word count —
    the pair every data-mixing report tracks (``functions.text``).

    One higher-order aggregate per row, JVM-side: counting 100 TB of
    text is a narrow projection with zero shuffle.
    """
    from awsbatch_mapreduce_spark.functions.text import bpe_ish_piece_count

    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("bigint")
    pieces = bpe_ish_piece_count("text")
    return docs.select(
        "doc_id",
        "lang",
        words.alias("n_words"),
        pieces.alias("n_bpe_pieces"),
        dround(pieces * 1.0 / words, 4).alias("pieces_per_word"),
    )


_FUNNEL_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             x -> x IN ('the', 'a'))) * 1.0
                 / len(string_split(text, ' ')) AS stop_ratio,
             len(list_distinct(string_split(text, ' '))) * 1.0
                 / len(string_split(text, ' ')) AS unique_ratio,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       x -> x IN ('the', 'a', 'of', 'and'))) >= 2
                  THEN 'en' ELSE 'other' END AS lang_pred,
             md5(substr(lower(trim(text)), 1, 64)) AS fp
      FROM documents),
    scored AS (
      SELECT *, 0.4 * LEAST(n_tokens / 50.0, 1.0)
              + 0.3 * stop_ratio + 0.3 * unique_ratio AS quality
      FROM t),
    s1 AS (SELECT * FROM scored WHERE lang_pred = 'en'),
    s2 AS (SELECT * FROM s1 WHERE quality >= 0.5),
    s3 AS (SELECT * FROM s2
           QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
    SELECT * FROM (
      SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM scored
      UNION ALL
      SELECT '1_lang_en', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s1
      UNION ALL
      SELECT '2_quality', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s2
      UNION ALL
      SELECT '3_dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s3)
"""


@query("corpus_curation_funnel", oracle=_FUNNEL_ORACLE)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation pipeline, reported as a
    funnel: raw -> language filter -> quality gate -> near-dup keep-one.

    Composes the engine's text operators (language-ID stopword rule,
    Gopher-style quality score, prefix-fingerprint dedup) into the
    single pass a data-curation job actually runs, and reports
    docs/tokens surviving each stage — the acceptance report every
    corpus build ships with.

    Scale: the scored base frame is one narrow projection (no shuffle);
    each funnel stage adds only a filter, so Catalyst collapses the
    whole thing into one scan + four partial aggregates.  The only
    shuffle is the keep-one dedup (window over fp), whose key domain
    is the document fingerprint — uniform by construction, no skew.
    Token sums are exact integers, so no fixed-point quantization is
    needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("bigint")
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin("the", "a"))) * 1.0 / F.size(toks)
    unique_ratio = F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)
    en_hits = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and")))
    scored = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (
            0.4 * F.least(n_tokens / 50.0, F.lit(1.0))
            + 0.3 * stop_ratio
            + 0.3 * unique_ratio
        ).alias("quality"),
        F.when(en_hits >= 2, "en").otherwise("other").alias("lang_pred"),
        F.md5(F.substring(F.lower(F.trim(F.col("text"))), 1, 64)).alias("fp"),
    )
    # Round-18 optimization (guide §1.2 "don't compute things twice" /
    # §2.3 "aggregate before you shuffle"): the old form union'd four
    # separate aggregates, re-scanning documents (and re-evaluating the
    # tokenize expressions) once per funnel stage — 4 scans in the
    # committed plan audit.  Stages 0-2 are nested filters, so ONE
    # conditional aggregate over one scan yields all three rows
    # (exploded from a literal struct array); stage 3 additionally
    # needs the keep-one-per-fingerprint dedup, expressed as a
    # groupBy(fp) keeping the min-doc_id row's token count — the same
    # survivor the row_number()=1 window selected, without sorting
    # non-surviving rows.  SUM over an empty filtered set is NULL in
    # both engines; the conditional sums reproduce that.
    en = F.col("lang_pred") == "en"
    enq = en & (F.col("quality") >= 0.5)
    stages012 = (
        scored.agg(
            F.count(F.lit(1)).alias("c0"),
            F.sum("n_tokens").alias("t0"),
            F.count(F.when(en, 1)).alias("c1"),
            F.sum(F.when(en, F.col("n_tokens"))).alias("t1"),
            F.count(F.when(enq, 1)).alias("c2"),
            F.sum(F.when(enq, F.col("n_tokens"))).alias("t2"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("0_raw").alias("stage"),
                        F.col("c0").alias("n_docs"),
                        F.col("t0").alias("n_tokens"),
                    ),
                    F.struct(
                        F.lit("1_lang_en").alias("stage"),
                        F.col("c1").alias("n_docs"),
                        F.col("t1").alias("n_tokens"),
                    ),
                    F.struct(
                        F.lit("2_quality").alias("stage"),
                        F.col("c2").alias("n_docs"),
                        F.col("t2").alias("n_tokens"),
                    ),
                )
            ).alias("s")
        )
        .select("s.stage", "s.n_docs", "s.n_tokens")
    )
    s3 = (
        scored.filter(enq)
        .groupBy("fp")
        .agg(F.min_by("n_tokens", "doc_id").alias("n_tokens"))
        .agg(
            F.lit("3_dedup").alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select("stage", "n_docs", "n_tokens")
    )
    return stages012.unionByName(s3)


@query(
    "vocab_top_words",
    oracle="""
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS BIGINT)
                   AS vocab_id,
               word,
               n AS n_occurrences
        FROM (SELECT word, COUNT(*) AS n
              FROM (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents)
              GROUP BY 1)
        QUALIFY vocab_id <= 100
    """,
)
def vocab_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building — the canonical MapReduce wordcount, ranked:
    explode tokens, count, keep the top 100 with (count desc, word)
    ordering, assign dense vocab ids by rank.

    The count aggregate is partial+final on the token key (uniform at
    corpus scale — hot stopwords are exactly what map-side combine
    absorbs); the top-100 head is a distributed TakeOrderedAndProject,
    so only the 100 survivors ever pass through a single partition for
    vocab-id assignment.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("word")).limit(100)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("n_occurrences"), F.asc("word"))
    return (
        top.withColumn("vocab_id", F.row_number().over(w).cast("bigint"))
        .select("vocab_id", "word", "n_occurrences")
    )


@query(
    "tfidf_top_term_per_doc",
    oracle="""
        WITH tf AS (
          SELECT doc_id, word, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                FROM documents)
          GROUP BY 1, 2),
        df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.word,
                 tf.tf * ((n.n_docs * 1000) // df.df) AS score
          FROM tf JOIN df USING (word) CROSS JOIN n)
        SELECT doc_id, word AS top_term, CAST(score AS BIGINT) AS tfidf_scaled
        FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, word) = 1
    """,
)
def tfidf_top_term_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with integer-quantized idf (``(N*1000) div df``) — every
    score is exact integer math, so ranking is bit-stable across
    engines (a libm ``ln`` would differ by ulps and flip near-ties).

    Shape: token explode -> (doc, word) count -> word-keyed df join ->
    per-doc top-1 window.  The df frame is vocabulary-sized — which
    grows with the corpus (Heaps' law: ~100M+ distinct tokens at
    100 TB), so it is pinned to the shuffle path rather than broadcast
    — a word-keyed exchange of (word, df) pairs is linear and spills;
    a vocabulary broadcast is a driver OOM at real scale.  The
    characteristic-term extraction behind keyword indexing and topic
    labeling at corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(never_broadcast(df), "word").select(
        "doc_id",
        "word",
        (F.col("tf") * F.floor(F.lit(n_docs * 1000) / F.col("df")).cast("bigint")).alias(
            "score"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_term"),
            F.col("score").cast("bigint").alias("tfidf_scaled"),
        )
    )


_DECON_ORACLE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 5
             THEN list_transform(generate_series(1, len(t) - 4),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                       || t[i+3] || ' ' || t[i+4])
             ELSE [] END) AS g
      FROM toks),
    ev AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 10 <> 0)
    SELECT tr.doc_id AS train_doc_id,
           ev.doc_id AS eval_doc_id,
           COUNT(*) AS n_shared_ngrams
    FROM tr JOIN ev USING (g)
    GROUP BY 1, 2
"""


@query("decontaminate_train_vs_eval", oracle=_DECON_ORACLE)
def decontaminate_train_vs_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-token n-gram with the eval set (here: every 10th doc stands in
    for the benchmark).  Distinct from dedup — the question is not
    "are these the same doc" but "did eval text leak into train",
    so even one shared window is a hit.

    Scale shape: both sides explode to distinct n-grams and meet in a
    *shingle-keyed* equi-join — never doc x doc.  The eval side is tiny
    (benchmarks are ~1e5 rows vs 1e10 train docs) and broadcasts; at
    100 TB the train side streams through map-side hash probes with no
    shuffle of the corpus at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                """
                CASE WHEN size(t) >= 5
                THEN transform(sequence(1, size(t) - 4),
                     i -> concat_ws(' ', element_at(t, i), element_at(t, i+1),
                                         element_at(t, i+2), element_at(t, i+3),
                                         element_at(t, i+4)))
                ELSE array() END
                """
            )
        ).alias("g"),
    ).distinct()
    ev = grams.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    tr = grams.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "g"
    )
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


_REPETITION_ORACLE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tri AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 3
             THEN list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             ELSE [] END) AS g
      FROM toks)
    SELECT doc_id,
           COUNT(*) AS n_trigrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           MAX(cnt) AS max_repeat,
           FLOOR(((COUNT(*) - COUNT(DISTINCT g)) * 1.0 / COUNT(*)) * 10000.0 + 0.5)
               / 10000.0 AS repetition_ratio
    FROM (SELECT doc_id, g, COUNT(*) OVER (PARTITION BY doc_id, g) AS cnt
          FROM tri)
    GROUP BY doc_id
"""


@query("text_repetition_score", oracle=_REPETITION_ORACLE)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality rule): trigram
    total vs distinct counts, the hottest trigram's repeat count, and
    the repeated fraction — degenerate looping text scores high and
    gets filtered before training.

    Per-doc only: the explode never leaves its document, so the whole
    computation is partition-local after one shuffle on doc_id (and
    with documents already id-partitioned on disk, none at all).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    tri = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                """
                CASE WHEN size(t) >= 3
                THEN transform(sequence(1, size(t) - 2),
                     i -> concat_ws(' ', element_at(t, i), element_at(t, i+1),
                                         element_at(t, i+2)))
                ELSE array() END
                """
            )
        ).alias("g"),
    )
    per_gram = tri.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_trigrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("cnt").alias("max_repeat"),
        dround(
            (F.sum("cnt") - F.count(F.lit(1))) * 1.0 / F.sum("cnt"), 4
        ).alias("repetition_ratio"),
    )


@query(
    "dedup_cluster_size_histogram",
    oracle="""
        WITH clusters AS (
            SELECT md5(text) AS h, COUNT(*) AS cluster_size
            FROM documents GROUP BY md5(text))
        SELECT cluster_size,
               COUNT(*) AS n_clusters,
               CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
        FROM clusters
        GROUP BY cluster_size
    """,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster-size distribution: how many exact-duplicate
    clusters of each size exist, and how many documents they hold —
    the diagnostic run before choosing a dedup strategy (a fat head
    of giant clusters needs different handling than a long tail of
    pairs).

    Two hash aggregates: first keyed on ``md5(text)`` so the shuffle
    carries 16-byte digests instead of document bodies (the scale
    lever at 100 TB), then the tiny size->count rollup where map-side
    partials collapse each task to a handful of rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
    )


@query(
    "tokenize_with_vocab",
    oracle="""
        WITH counts AS (
          SELECT word, COUNT(*) AS n
          FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          GROUP BY 1),
        v AS (
          SELECT word,
                 CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS BIGINT) AS id
          FROM counts QUALIFY id <= 16),
        t AS (
          SELECT doc_id, i AS pos,
                 list_extract(string_split(text, ' '), i) AS w
          FROM documents,
               UNNEST(generate_series(1,
                 LEAST(len(string_split(text, ' ')), 32))) AS u(i)),
        j AS (
          SELECT t.doc_id, t.pos, CAST(COALESCE(v.id, 0) AS BIGINT) AS id
          FROM t LEFT JOIN v ON v.word = t.w)
        SELECT doc_id,
               string_agg(CAST(id AS VARCHAR), '-' ORDER BY pos) AS token_ids,
               CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM j GROUP BY doc_id
    """,
)
def tokenize_with_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary tokenization at scale: learn a top-16 vocabulary
    (count desc, word tie-break), then map each document's first 32
    tokens to vocab ids (0 = OOV) — the join-based way to run a fixed
    tokenizer over a corpus when the vocab is too big to ship in a
    closure but small enough to broadcast as a table.

    Scale shape: the vocab build is the wordcount aggregate plus a
    distributed top-k (TakeOrderedAndProject); the application side is
    posexplode -> broadcast hash join against the vocab -> re-assemble
    per doc.  Order within a doc survives the shuffle because the
    (pos, id) pairs are array_sort-ed after collect_list — never
    relying on collect_list's arrival order.  Ids are emitted as a
    dash-joined string (repo convention for cross-engine array
    hashing).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(16)
    wv = Window.partitionBy(F.lit(0)).orderBy(F.desc("n"), F.asc("word"))
    vocab = top.withColumn("id", F.row_number().over(wv).cast("bigint")).select(
        "word", "id"
    )

    toks = docs.select(
        "doc_id",
        F.posexplode(F.slice(F.split("text", " "), 1, 32)).alias("pos", "w"),
    )
    joined = toks.join(
        F.broadcast(vocab), toks.w == vocab.word, "left"
    ).select("doc_id", "pos", F.coalesce("id", F.lit(0).cast("bigint")).alias("id"))
    return joined.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda s: s["id"].cast("string"),
            ),
            "-",
        ).alias("token_ids"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
    )
