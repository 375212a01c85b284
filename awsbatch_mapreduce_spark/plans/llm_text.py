"""LLM-data-pipeline text operators over the ``documents`` fixture.

Exact and SimHash deduplication and text analysis (token stats,
quality scoring, language-ID, fingerprinting, n-gram language-model
scores, vocabulary and per-source statistics) — first-class engine
capabilities for 100 TB training-data curation (BASELINE.json north
star), built purely from JVM-side built-ins
(split/transform/aggregate/md5) so the hot path never crosses into
Python.  The near-duplicate ladder (MinHash-LSH, n-gram Jaccard and
the rest) lives in ``plans/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.functions.rounding import dround

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


# Shared with source_quality_profile (which rolls these per-doc
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
    shared by :func:`text_quality_score` and the per-source rollup
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


_BIGRAM_ORACLE = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
      FROM t, UNNEST(range(1, len(w))) AS u(i)),
    cnt AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(cnt.c) * 1000000 // COUNT(*) AS BIGINT)
             AS familiarity_fp
    FROM bg JOIN cnt USING (bigram)
    GROUP BY bg.doc_id
"""


@query("bigram_lm_familiarity", oracle=_BIGRAM_ORACLE)
def bigram_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model familiarity: each document scored by the
    mean corpus frequency of its word bigrams (integer-scaled 1e6) —
    the bigram upgrade of the unigram LM score in ``plans/detectors``,
    and the standard cheap proxy for "does this text look like the
    corpus" in quality filtering.

    The corpus bigram table is vocabulary-bounded (V^2, ~1k rows on a
    31-word fixture vocabulary; still tiny against any real corpus),
    so the count join BROADCASTS — the only shuffle is the per-doc
    rollup.  The familiarity is an exact integer mean (sum of int64
    counts, one floor-div), engine-identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("w"))
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                " ELSE array() END"
            )
        ).alias("bigram"),
    )
    cnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    return (
        bg.join(F.broadcast(cnt), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("CAST(sum(c) * 1000000 div count(1) AS BIGINT)").alias(
                "familiarity_fp"
            ),
        )
    )


_NOVELTY_ORACLE = """
    WITH tri AS (
      SELECT DISTINCT doc_id,
             md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS tg
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(range(1, len(t) - 1)) AS u(i)),
    first_seen AS (
      SELECT tg, MIN(doc_id) AS intro_doc FROM tri GROUP BY tg)
    SELECT tri.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(COUNT(*) FILTER (WHERE f.intro_doc = tri.doc_id) AS BIGINT)
             AS n_novel,
           CAST(COUNT(*) FILTER (WHERE f.intro_doc = tri.doc_id)
                * 1000000 // COUNT(*) AS BIGINT) AS novelty_fp
    FROM tri JOIN first_seen f USING (tg)
    GROUP BY tri.doc_id
"""


@query("trigram_novelty_score", oracle=_NOVELTY_ORACLE)
def trigram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order novelty: the fraction of each document's distinct
    word trigrams that it is the FIRST (lowest doc_id) to introduce —
    the diversity/staleness signal curation uses to decide whether new
    crawl batches still add anything, and the batch analogue of
    streaming novelty dedup.

    Scale shape: trigrams hash to md5 digests before either shuffle
    (first-seen rollup, per-doc join-back), so the exchanges carry
    16-byte keys, never n-gram text — the same digest discipline as
    the snapshot diff and column profiler.  The score is an exact
    integer ratio.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    tri = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(t) >= 3 THEN"
                    " transform(sequence(1, size(t) - 2),"
                    " i -> md5(concat_ws(' ', element_at(t, i),"
                    " element_at(t, i + 1), element_at(t, i + 2))))"
                    " ELSE array() END"
                )
            )
        ).alias("tg"),
    )
    first_seen = tri.groupBy("tg").agg(F.min("doc_id").alias("intro_doc"))
    novel = F.sum(
        F.when(F.col("intro_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        tri.join(first_seen, "tg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            novel.cast("bigint").alias("n_novel"),
            F.expr(
                "CAST(sum(CASE WHEN intro_doc = doc_id THEN 1 ELSE 0 END)"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("novelty_fp"),
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


@query("vocab_growth_curve", oracle=_VOCAB_GROWTH_ORACLE)
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


_DICE_MIN_COUNT = 5


_DICE_TOPK = 50


_DICE_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    uni AS (SELECT unnest(t) AS w FROM toks),
    uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2),
    bc AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY bigram
           HAVING COUNT(*) >= {_DICE_MIN_COUNT}),
    scored AS (
      SELECT bc.bigram, bc.c12, u1.c AS c1, u2.c AS c2,
             CAST(2 * bc.c12 * 1000000 // (u1.c + u2.c) AS BIGINT)
               AS dice_ppm
      FROM bc
      JOIN uc u1 ON u1.w = string_split(bc.bigram, ' ')[1]
      JOIN uc u2 ON u2.w = string_split(bc.bigram, ' ')[2])
    SELECT bigram, CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
           CAST(c2 AS BIGINT) AS c2, dice_ppm
    FROM scored
    ORDER BY dice_ppm DESC, bigram
    LIMIT {_DICE_TOPK}
"""


@query("bigram_dice_topk", oracle=_DICE_ORACLE)
def bigram_dice_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the ``_DICE_TOPK`` most-associated token
    bigrams by Dice coefficient (2*c12 / (c1+c2), integer ppm) with a
    min-support cut — the standard first pass for multi-word
    expressions and tokenizer-merge candidates over a corpus.  Dice
    (not PMI) keeps the arithmetic in safely-bounded integers:
    ``2 * c12 * 1e6`` tops out near 2e12 at any fixture scale, where
    PMI's ``c12 * N * 1e6`` would overflow int64 at ~sf1.

    Scale shape: bigram and unigram counts are two token-keyed
    rollups (map-side partial agg), the min-support cut shrinks the
    bigram side before its two joins against unigram counts, and the
    top-k plans as TakeOrderedAndProject — no global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    uc = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bc = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat_ws(' ', element_at(t, i),"
                    " element_at(t, i + 1)))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= _DICE_MIN_COUNT)
    )
    w1 = F.expr("element_at(split(bigram, ' '), 1)")
    w2 = F.expr("element_at(split(bigram, ' '), 2)")
    scored = (
        bc.withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .select(
            "bigram",
            F.col("c12").cast("bigint").alias("c12"),
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            F.expr(
                "CAST(2 * c12 * 1000000 div (c1 + c2) AS BIGINT)"
            ).alias("dice_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("dice_ppm"), F.asc("bigram")
    ).limit(_DICE_TOPK)


_DISTINCT_TERMS_MIN_COUNT = 20


_DISTINCT_TERMS_TOPK = 10


_DISTINCT_TERMS_ORACLE = f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
    lw AS (SELECT lang, w, COUNT(*) AS c_lw FROM tok GROUP BY 1, 2),
    lt AS (SELECT lang, SUM(c_lw) AS t_l FROM lw GROUP BY 1),
    gw AS (SELECT w, SUM(c_lw) AS c_w FROM lw GROUP BY 1),
    tot AS (SELECT SUM(c_lw) AS t FROM lw),
    scored AS (
      SELECT lw.lang, lw.w, lw.c_lw,
             CAST(lw.c_lw * tot.t * 1000000 // (lt.t_l * gw.c_w)
                  AS BIGINT) AS lift_ppm
      FROM lw
      JOIN lt USING (lang) JOIN gw USING (w) CROSS JOIN tot
      WHERE lw.c_lw >= {_DISTINCT_TERMS_MIN_COUNT}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER
               (PARTITION BY lang ORDER BY lift_ppm DESC, w) AS rk
      FROM scored)
    SELECT lang, w, CAST(c_lw AS BIGINT) AS c_lw, lift_ppm,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_DISTINCT_TERMS_TOPK}
"""


@query("lang_distinctive_terms", oracle=_DISTINCT_TERMS_ORACLE)
def lang_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinctive vocabulary: the terms whose in-language
    rate most exceeds their corpus-wide rate (lift = P(w|lang)/P(w) in
    exact integer ppm), top 10 per language with a min-support cut —
    corpus QA that surfaces both genuine language signal and
    contamination (a 'distinctive' English term inside the de slice
    means mislabeled docs).

    Integer bound: the numerator ``c_lw * T * 1e6`` tops out near
    T^2 * 1e6 ~ 7e18 at sf0.1 — inside int64 for every fixture, noted
    at the 100 TB tier you'd scale the ppm factor down (or pre-divide
    by gcd) before the corpus hits ~3e6 tokens per shard-slice.

    Scale shape: one (lang, token)-keyed rollup feeds three bounded
    re-aggregations (lang totals, token totals, grand total — the
    token-keyed one is the only big shuffle), the support cut shrinks
    the scored set before ranking, and the top-10 window partitions by
    lang (bounded domain).
    """
    docs = load_table(spark, sf_dir, "documents")
    lw = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c_lw"))
    )
    lt = lw.groupBy("lang").agg(F.sum("c_lw").alias("t_l"))
    gw = lw.groupBy("w").agg(F.sum("c_lw").alias("c_w"))
    tot = lw.agg(F.sum("c_lw").alias("t"))
    scored = (
        lw.filter(F.col("c_lw") >= _DISTINCT_TERMS_MIN_COUNT)
        .join(F.broadcast(lt), "lang")
        .join(gw, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "w",
            "c_lw",
            F.expr(
                "CAST(c_lw * t * 1000000 div (t_l * c_w) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    wlang = Window.partitionBy("lang").orderBy(
        F.desc("lift_ppm"), F.asc("w")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wlang))
        .filter(F.col("rk") <= _DISTINCT_TERMS_TOPK)
        .select(
            "lang",
            "w",
            F.col("c_lw").cast("bigint").alias("c_lw"),
            "lift_ppm",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


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


@query("source_quality_profile", oracle=_SOURCE_QUALITY_ORACLE)
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


@query("source_token_concentration", oracle=_CONCENTRATION_ORACLE)
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
