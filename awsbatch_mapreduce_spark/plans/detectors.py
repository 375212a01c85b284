"""Content-detector operators for training-data curation: PII
detect/redact, boilerplate-ratio, OOV-rate, and the Spark 4 VARIANT
semi-structured path.

The documents fixture contains no digits or contact strings
(FIXTURES.md), so the PII and boilerplate queries PLANT their targets
deterministically from ``doc_id`` — the same expression in both engines
— which keeps the detectors non-vacuous and oracle-checkable, the
established pattern from ``multimodal_visual_near_dup``.

Scale notes (100 TB): every query here is one scan + one hash
aggregate; the only join is ``vocab_oov_rate``'s broadcast of a
16-row vocabulary.  All regex/JSON work is JVM-side built-ins
(``regexp_count`` / ``regexp_replace`` / ``parse_json``), never Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

# Regexes restricted to the Java-regex / RE2 common subset (no
# lookaround, no backrefs) so Spark and DuckDB match identically.
_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.com"
_PHONE_RE = r"555-[0-9]{4}"

# Deterministic PII plant: every 5th doc gains an email, every 7th a
# phone number, both derived from doc_id.
_AUG_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 5 = 0
                   THEN ' contact user' || doc_id || '@example.com now'
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END AS aug
    FROM documents
"""

_PII_ORACLE = f"""
    WITH a AS ({_AUG_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(aug, '{_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM a
"""


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with the deterministic PII plant (Spark twin of
    ``_AUG_SQL``)."""
    docs = load_table(spark, sf_dir, "documents")
    email = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise("")
    phone = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise("")
    return docs.select(
        "doc_id", F.concat("text", email, phone).alias("aug")
    )


@query("pii_detect_redact", oracle=_PII_ORACLE)
def pii_detect_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count email/phone hits and emit the
    md5 of the redacted text (the md5 lets the oracle verify the full
    redacted string without shipping it).

    All JVM-side (``regexp_count``/``regexp_replace``); one scan, no
    shuffle — at 100 TB this is a pure map stage that pipelines into
    whatever sink follows.
    """
    a = _augmented(spark, sf_dir)
    redacted = F.regexp_replace(
        F.regexp_replace("aug", F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return a.select(
        "doc_id",
        F.regexp_count("aug", F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count("aug", F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


# 10-word boilerplate sentence planted on every 4th doc -> its 8
# interior trigrams reach document-frequency ~n_docs/4 >> 3.
_BOILER = " terms apply all rights reserved contact support team for details"

_BOILER_ORACLE = f"""
    WITH a AS (
      SELECT doc_id,
             string_split(text || CASE WHEN doc_id % 4 = 0 THEN '{_BOILER}'
                                       ELSE '' END, ' ') AS t
      FROM documents),
    tri AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tg
      FROM a, UNNEST(range(1, len(t) - 1)) AS u(i)),
    df AS (SELECT tg, COUNT(*) AS n_docs FROM tri GROUP BY tg)
    SELECT tri.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(COUNT(*) FILTER (WHERE df.n_docs >= 3) AS BIGINT)
             AS n_boilerplate,
           (COUNT(*) FILTER (WHERE df.n_docs >= 3)) * 1.0 / COUNT(*)
             AS boilerplate_ratio
    FROM tri JOIN df USING (tg)
    GROUP BY tri.doc_id
"""


@query("ngram_boilerplate_ratio", oracle=_BOILER_ORACLE)
def ngram_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: fraction of a doc's distinct word
    trigrams that occur in >= 3 documents (site chrome, license
    footers, cookie banners).

    Two shuffles (trigram document-frequency, then per-doc rollup) over
    distinct trigrams only — bodies never shuffle.  The ratio is a
    single int/int division (IEEE-exact in both engines, no
    quantization needed).
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.split(
            F.concat(
                "text",
                F.when(F.col("doc_id") % 4 == 0, F.lit(_BOILER)).otherwise(""),
            ),
            " ",
        ).alias("t"),
    )
    tri = aug.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    # The size(t) >= 3 guard matches the oracle's
                    # range(1, len-1), which is empty for <3-token docs;
                    # Spark's sequence(1, 0) is a *descending* [1, 0]
                    # and element_at(t, 0) raises at runtime.  Explode
                    # of the empty array drops the row, same as the
                    # oracle's empty UNNEST.
                    "CASE WHEN size(t) >= 3 THEN"
                    " transform(sequence(1, size(t) - 2),"
                    " i -> concat_ws(' ', element_at(t, i),"
                    " element_at(t, i + 1), element_at(t, i + 2)))"
                    " ELSE array() END"
                )
            )
        ).alias("tg"),
    )
    df = tri.groupBy("tg").agg(F.count("*").alias("n_docs"))
    joined = tri.join(df, "tg")
    boiler = F.sum(F.when(F.col("n_docs") >= 3, 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        boiler.cast("bigint").alias("n_boilerplate"),
        (boiler * F.lit(1.0) / F.count("*")).alias("boilerplate_ratio"),
    )


_VOCAB_V = 16  # corpus vocabulary is 31 words (FIXTURES.md) -> top-16

_OOV_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    wc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM wc ORDER BY c DESC, tok LIMIT {_VOCAB_V})
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE vocab.tok IS NULL) AS BIGINT)
             AS n_oov,
           (COUNT(*) FILTER (WHERE vocab.tok IS NULL)) * 1.0 / COUNT(*)
             AS oov_rate
    FROM toks LEFT JOIN vocab ON toks.tok = vocab.tok
    GROUP BY toks.doc_id
"""


@query("vocab_oov_rate", oracle=_OOV_ORACLE)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-V
    vocabulary (count desc, word asc tie-break -> engine-independent
    selection).

    The vocab is a distributed top-k (``TakeOrderedAndProject``) over
    the word-count aggregate, then BROADCAST to the token stream — at
    100 TB the vocabulary table is tiny (<< executor memory for any
    real V) while tokens never leave their input partitions until the
    per-doc rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_V)
        .select(F.col("tok").alias("vtok"))
    )
    joined = toks.join(
        F.broadcast(vocab), toks.tok == F.col("vtok"), "left"
    )
    oov = F.sum(F.when(F.col("vtok").isNull(), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        oov.cast("bigint").alias("n_oov"),
        (oov * F.lit(1.0) / F.count("*")).alias("oov_rate"),
    )


_VARIANT_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
"""


@query("variant_json_extract", oracle=_VARIANT_ORACLE)
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path via Spark 4's VARIANT type:
    ``parse_json`` once, ``variant_get`` typed fields — the
    shredded-at-parse alternative to ``from_json`` with a fixed schema
    (``events_json_extract``).

    VARIANT keeps the parsed binary form, so repeated field accesses
    don't re-parse the JSON text; at 100 TB of ragged event payloads
    this is the schema-flexible scan path.  Pure map + one hash
    aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_MAD_ORACLE = """
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * 4 AS v4
      FROM events),
    med AS (
      SELECT event_type, CAST(quantile_cont(v4, 0.5) AS BIGINT) AS med4
      FROM v GROUP BY event_type),
    d AS (
      SELECT v.event_type, v.v4, med.med4,
             2 * abs(v.v4 - med.med4) AS d2
      FROM v JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, CAST(quantile_cont(d2, 0.5) AS BIGINT) AS mad_d2
      FROM d GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(d.med4) AS BIGINT) AS med4,
           CAST(MAX(mad.mad_d2) AS BIGINT) AS mad_d2,
           CAST(COUNT(*) FILTER (WHERE 2 * d.d2 > 7 * mad.mad_d2)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad USING (event_type)
    GROUP BY d.event_type
"""


@query("events_mad_outliers", oracle=_MAD_ORACLE)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type via median absolute
    deviation: flag events beyond 3.5 MADs from the median — the
    estimator that, unlike z-scores (``events_zscore_outliers``),
    doesn't let the outliers themselves inflate the threshold.

    Exactness trick: everything stays in scaled integers.  Cents
    quantize, then x4: the interpolated median of an even-count set of
    multiples of 4 is a whole (even) integer, |v4 - med4| doubled is
    even, so the MAD (a median of even ints) is again integral, and
    the 3.5x cut becomes the integer comparison ``2*d2 > 7*mad_d2`` —
    both engines compare exact int64s, no float boundary cases.

    Scale shape: two grouped exact percentiles over a 5-key domain
    (each a single shuffle; swap for ``percentile_approx`` when the
    per-key row count stops fitting a partition), broadcast joins of
    the 5-row med/mad tables back onto the stream.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint") * 4)
        .alias("v4"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("CAST(percentile(v4, 0.5) AS BIGINT)").alias("med4")
    )
    d = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med4",
        (F.lit(2) * F.abs(F.col("v4") - F.col("med4"))).alias("d2"),
    )
    mad = d.groupBy("event_type").agg(
        F.expr("CAST(percentile(d2, 0.5) AS BIGINT)").alias("mad_d2")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("med4").cast("bigint").alias("med4"),
            F.max("mad_d2").cast("bigint").alias("mad_d2"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("d2") > F.lit(7) * F.col("mad_d2"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
