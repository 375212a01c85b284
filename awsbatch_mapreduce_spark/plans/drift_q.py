"""Schema-drift reader under the driver's oracle gate, plus two
distribution-drift monitors: per-language share between the two
doc_id halves, and per-label embedding-centroid agreement between the
even- and odd-id halves.

The one non-trivial data-model semantic in the reference is per-
partition column-alias resolution before union (2009 files say
``End_Lat``/``End_Lon``, later ones ``dropoff_latitude``/...;
``src/awsbatch-map/main.py:58-65``).  This query materializes that
exact situation from the lineitem fixture — two partition files with
drifted column names and a dropped column — reads them back through
``sources.drift.read_union_drift``, and aggregates; the oracle derives
the same numbers straight from the canonical table.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.functions.rounding import (
    dround,
    fixed_point_sum,
    fixed_point_sum_sql,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.drift import read_union_drift
from awsbatch_mapreduce_spark.sources.tables import load_table

_DRIFT_ORACLE = f"""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           {fixed_point_sum_sql('l_extendedprice', 2, 2)} AS sum_price,
           COUNT(CASE WHEN l_linenumber <= 2 THEN l_tax END) AS n_with_tax
    FROM lineitem
    GROUP BY l_returnflag
"""


@query("drift_union_normalize", oracle=_DRIFT_ORACLE)
def drift_union_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the drift scenario: write lineitem as two 'eras' —
    era A (line numbers 1-2) with renamed columns ``ext_price``/
    ``disc_pct``, era B with canonical names but no ``l_tax`` column —
    then read through the normalizing union reader and aggregate.

    A plain ``mergeSchema`` read of these files would yield four price/
    discount columns and silently null-split the data; the reader
    renames per source before ``unionByName(allowMissingColumns=True)``
    so the aggregate below hash-matches the canonical-table oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    tmp = tempfile.mkdtemp(prefix="drift_eras_")
    era_a, era_b = f"{tmp}/era_a", f"{tmp}/era_b"
    li.filter(F.col("l_linenumber") <= 2).withColumnsRenamed(
        {"l_extendedprice": "ext_price", "l_discount": "disc_pct"}
    ).write.mode("overwrite").parquet(era_a)
    li.filter(F.col("l_linenumber") > 2).drop("l_tax").write.mode(
        "overwrite"
    ).parquet(era_b)

    unified = read_union_drift(
        spark,
        [era_a, era_b],
        aliases={
            "l_extendedprice": ["ext_price"],
            "l_discount": ["disc_pct"],
        },
        required=["l_extendedprice"],
    )
    return unified.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        fixed_point_sum("l_extendedprice", 2, 2).alias("sum_price"),
        F.count("l_tax").alias("n_with_tax"),
    )


_HALF_DRIFT_ORACLE = """
    WITH b AS (
      SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents),
    h AS (
      SELECT lang,
             COUNT(*) FILTER (WHERE doc_id <= mid) AS n_first,
             COUNT(*) FILTER (WHERE doc_id > mid) AS n_second
      FROM documents, b GROUP BY lang),
    t AS (SELECT SUM(n_first) AS t1, SUM(n_second) AS t2 FROM h)
    SELECT lang,
           CAST(n_first AS BIGINT) AS n_first,
           CAST(n_second AS BIGINT) AS n_second,
           CAST(n_first * 1000000 // t1 AS BIGINT) AS share1_ppm,
           CAST(n_second * 1000000 // t2 AS BIGINT) AS share2_ppm,
           CAST(n_second * 1000000 // t2
                - n_first * 1000000 // t1 AS BIGINT) AS drift_ppm
    FROM h, t
"""


@query("corpus_half_drift", oracle=_HALF_DRIFT_ORACLE)
def corpus_half_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between corpus snapshots: per-language share
    in the first vs second doc_id half and the signed share delta
    (integer ppm) — the monitoring number that catches a crawl whose
    language mix silently shifted between ingests.

    Scale shape: one bounded-key (lang) conditional rollup over a
    single scan, two broadcast scalar totals, exact integer shares.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(
        ((F.min("doc_id") + F.max("doc_id")) / F.lit(2))
        .cast("bigint")
        .alias("mid")
    )
    h = (
        docs.crossJoin(F.broadcast(b))
        .groupBy("lang")
        .agg(
            F.sum(
                F.when(F.col("doc_id") <= F.col("mid"), 1).otherwise(0)
            ).alias("n_first"),
            F.sum(
                F.when(F.col("doc_id") > F.col("mid"), 1).otherwise(0)
            ).alias("n_second"),
        )
    )
    t = h.agg(
        F.sum("n_first").alias("t1"), F.sum("n_second").alias("t2")
    )
    return h.crossJoin(F.broadcast(t)).select(
        "lang",
        F.col("n_first").cast("bigint").alias("n_first"),
        F.col("n_second").cast("bigint").alias("n_second"),
        F.expr("CAST(n_first * 1000000 div t1 AS BIGINT)").alias(
            "share1_ppm"
        ),
        F.expr("CAST(n_second * 1000000 div t2 AS BIGINT)").alias(
            "share2_ppm"
        ),
        F.expr(
            "CAST(n_second * 1000000 div t2"
            " - n_first * 1000000 div t1 AS BIGINT)"
        ).alias("drift_ppm"),
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


@query("embedding_centroid_drift", oracle=_CENTROID_DRIFT_ORACLE)
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
