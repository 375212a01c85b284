"""Similarity search over the ``embeddings`` fixture (64-dim float vecs).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant is the 100 TB scale path (candidate generation via sign-random-
projection buckets instead of the full cross join).  All vector math is
JVM-side (``zip_with``/``aggregate`` fold in double precision) — no
Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.functions.rounding import dround
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.index.codebook import _codebook_literal
from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.plans.registry import QUERIES, query
from awsbatch_mapreduce_spark.sources.tables import load_table


def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


@query(
    "embedding_norms",
    oracle="""
        WITH e AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
                          unnest(embedding) AS v
                   FROM embeddings)
        SELECT vec_id, CAST(MAX(label) AS INT) AS label,
               COUNT(*) AS dim,
               FLOOR((SQRT(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS l2_norm
        FROM e GROUP BY vec_id
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector dimensionality + L2 norm (sanity/scale primitive)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.size("embedding").cast("bigint").alias("dim"),
        dround(_l2_norm(F.col("embedding")), 4).alias("l2_norm"),
    )


_KNN_ORACLE = """
    WITH q AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                      unnest(embedding) AS v
               FROM embeddings WHERE vec_id < 8),
    d AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding) AS v
          FROM embeddings),
    dots AS (
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
             SUM(CAST(q.v AS DOUBLE) * CAST(d.v AS DOUBLE)) AS dot,
             SUM(CAST(q.v AS DOUBLE) * CAST(q.v AS DOUBLE)) AS qq,
             SUM(CAST(d.v AS DOUBLE) * CAST(d.v AS DOUBLE)) AS dd
      FROM q JOIN d ON q.i = d.i AND q.vec_id <> d.vec_id
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id,
           FLOOR((dot / (SQRT(qq) * SQRT(dd))) * 10000.0 + 0.5) / 10000.0 AS cosine,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY FLOOR((dot / (SQRT(qq) * SQRT(dd))) * 10000.0 + 0.5) / 10000.0 DESC, neighbor_id)
                AS BIGINT) AS rk
    FROM dots
    QUALIFY rk <= 5
"""


@query("knn_bruteforce_cosine", oracle=_KNN_ORACLE)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 8).

    Query side is broadcast (tiny); the corpus scan streams once.  Rank
    on *rounded* cosine with neighbor-id tie-break so the top-k set is
    engine-independent.  At 100 TB the same plan holds: broadcast the
    query batch, one corpus pass, per-query heap via window-limit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    d = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("dv"))
    pairs = d.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    cosine = dround(
        _dot(F.col("qv"), F.col("dv")) / (_l2_norm(F.col("qv")) * _l2_norm(F.col("dv"))),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
    )


def _sign_band_key(band: int, lo: int, hi: int) -> Column:
    """Sign-random-projection LSH band key over dims [lo, hi) (0-indexed).

    Specialized to axis-aligned hyperplanes (sign of each coordinate),
    which keeps the key a pure comparison — bit-identical across engines,
    no float arithmetic to drift.
    """
    bits = [
        F.when(F.col("embedding")[i] >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(lo, hi)
    ]
    return F.concat(F.concat_ws("", *bits), F.lit(f"/{band}"))


# Sign-band key CTEs (bits -> keys), shared between the embedding dedup
# oracle and the band-load histogram so the banding can't drift.
_EMB_KEYS_SQL = """
    bits AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                    CAST(unnest(embedding) AS DOUBLE) AS v
             FROM embeddings),
    keys AS (
      SELECT vec_id,
             STRING_AGG(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY i)
               || '/0' AS bk
      FROM bits WHERE i BETWEEN 1 AND 8 GROUP BY vec_id
      UNION ALL
      SELECT vec_id,
             STRING_AGG(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY i)
               || '/1'
      FROM bits WHERE i BETWEEN 9 AND 16 GROUP BY vec_id)
"""

_EMB_DEDUP_ORACLE = f"""
    WITH {_EMB_KEYS_SQL},
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM keys a JOIN keys b ON a.bk = b.bk AND a.vec_id < b.vec_id),
    cos AS (
      SELECT c.id_a, c.id_b,
             SUM(x.v * y.v) AS dot,
             SUM(x.v * x.v) AS xx,
             SUM(y.v * y.v) AS yy
      FROM cand c
      JOIN bits x ON x.vec_id = c.id_a
      JOIN bits y ON y.vec_id = c.id_b AND y.i = x.i
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b,
           FLOOR((dot / (SQRT(xx) * SQRT(yy))) * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM cos
    WHERE FLOOR((dot / (SQRT(xx) * SQRT(yy))) * 10000.0 + 0.5) / 10000.0 >= 0.25
"""


@query("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs: sign-LSH bucketing -> exact
    cosine verify (threshold 0.25 — the fixture has no true near-dups,
    so the threshold sits where the tail of the distribution is).

    Scale path: the quadratic all-pairs join never happens — candidates
    come from a self-join on two 8-bit sign-band keys (collision prob
    rises with cosine), then only candidates pay the exact-cosine
    verification.  Same band->verify shape as ``dedup_minhash_lsh``.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    keys = emb.select(
        "vec_id",
        F.explode(
            F.array(_sign_band_key(0, 0, 8), _sign_band_key(1, 8, 16))
        ).alias("bk"),
    )
    # band frame, candidate set, and vector frames all scale with the
    # corpus — pin to sort-merge so no AQE size misestimate can turn one
    # into a driver broadcast (the sf1-rehearsal OOM mode, SCALING.md).
    a, b = keys.alias("a"), never_broadcast(keys.alias("b"))
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    va = never_broadcast(
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    )
    vb = never_broadcast(
        emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    )
    cosine = dround(
        _dot(F.col("ea"), F.col("eb")) / (_l2_norm(F.col("ea")) * _l2_norm(F.col("eb"))),
        4,
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.25)
    )


_IVF_ORACLE = """
    WITH bits AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
                         CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
    cent AS (SELECT label, i, FLOOR(AVG(v) * 10000.0 + 0.5) / 10000.0 AS cv
             FROM bits GROUP BY label, i),
    vnorm AS (SELECT vec_id, SQRT(SUM(v * v)) AS nv FROM bits GROUP BY vec_id),
    cnorm AS (SELECT label, SQRT(SUM(cv * cv)) AS nc FROM cent GROUP BY label),
    score AS (
      SELECT b.vec_id, c.label,
             FLOOR((SUM(b.v * c.cv) / (MAX(vn.nv) * MAX(cn.nc))) * 1000000.0 + 0.5)
               / 1000000.0 AS s
      FROM bits b
      JOIN cent c ON c.i = b.i
      JOIN vnorm vn ON vn.vec_id = b.vec_id
      JOIN cnorm cn ON cn.label = c.label
      GROUP BY b.vec_id, c.label),
    assign AS (SELECT vec_id, label AS cell FROM (
                 SELECT vec_id, label,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rk
                 FROM score) WHERE rk = 1),
    probe AS (SELECT vec_id AS query_id, label AS cell FROM (
                 SELECT vec_id, label,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rk
                 FROM score WHERE vec_id < 8) WHERE rk <= 2),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
             FROM probe p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id),
    cos AS (
      SELECT c.query_id, c.neighbor_id,
             SUM(q.v * n.v) AS dot, SUM(q.v * q.v) AS qq, SUM(n.v * n.v) AS nn
      FROM cand c
      JOIN bits q ON q.vec_id = c.query_id
      JOIN bits n ON n.vec_id = c.neighbor_id AND n.i = q.i
      GROUP BY c.query_id, c.neighbor_id)
    SELECT query_id, neighbor_id,
           FLOOR((dot / (SQRT(qq) * SQRT(nn))) * 10000.0 + 0.5) / 10000.0 AS cosine,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY FLOOR((dot / (SQRT(qq) * SQRT(nn))) * 10000.0 + 0.5) / 10000.0 DESC,
                         neighbor_id) AS BIGINT) AS rk
    FROM cos
    QUALIFY rk <= 5
"""


def _ivf_probe_topk(
    spark: SparkSession, sf_dir: str, neighbor_lang: str | None = None
) -> DataFrame:
    """IVF approximate nearest neighbor: coarse-quantize the corpus into
    cells (codebook = per-label centroids), probe the 2 nearest cells per
    query, exact top-5 cosine within the probed cells only.

    Scale path vs :func:`knn_bruteforce_cosine`: the corpus is scanned
    once to build the (tiny, broadcast) codebook and once to assign
    cells; each query then touches ~nprobe/ncells of the data instead of
    all of it.  Centroid values are quantized to 4 decimals and cell
    scores to 6 so the assignment argmax is engine-independent.

    ``neighbor_lang`` arms FILTERED search (round 18): the metadata
    predicate is pushed into the ASSIGNMENT relation — a vec_id
    semi-join against the predicate-matching doc set — BEFORE the
    probe join generates candidates, so the top-k ranks over exactly
    the filtered corpus under the shared (unfiltered) cell geometry.
    Post-filtering an unfiltered top-k instead would undercount k
    whenever a query's nearest cells are dominated by excluded docs.
    The filter side is data-scaled (a lang slice of a 100 TB corpus is
    still huge), so it is pinned ``never_broadcast``: the semi-join
    shuffles both sides on vec_id — linear, co-partitioned — and the
    candidate bound stays nprobe x cell-cap per query.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    bits = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "label", "pos", F.col("v").cast("double").alias("v"))
    cent_flat = bits.groupBy("label", "pos").agg(dround(F.avg("v"), 4).alias("cv"))
    centroids = cent_flat.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("centroid")
    )

    # Round-19 restructure (VERDICT r18 #5, guide §2.4): the old plan
    # ranked the FULL n x k scored frame through one row_number window
    # (an exchange of every candidate row) and persisted it for two
    # consumers.  The bounded codebook is instead COLLECTED once (one
    # k-row job — it was always broadcast-sized) and applied as a
    # literal expression, exactly the kmeans-family discipline
    # (index/codebook.assign_to_cells_collected): the cell ASSIGNMENT
    # becomes a pure per-row projection — no crossJoin, no broadcast
    # build, no n x k candidate rows, NO exchange at all — and the
    # PROBE side top-2 is an array_sort + slice over the same literal
    # on the bounded vec_id < 8 batch, whose re-scan is a parquet
    # min/max-pruned read of a few rows (not the "second corpus pass"
    # the round-18 note feared).  Score arithmetic is the identical
    # dround(dot / (|v| * |c|), 6) expression over the identical
    # doubles (repr/parse round-trip is exact); argmax on
    # (s desc, cell asc) == first array_min of struct(-s, cell), and
    # the top-2 slice of the ascending (-s, cell) sort is the window's
    # rk <= 2 pair — negation of a finite double is exact.
    rows = sorted(centroids.collect(), key=lambda r: r["label"])
    label_type = centroids.schema["label"].dataType
    cents_lit = _codebook_literal([list(r["centroid"]) for r in rows])
    cells_lit = F.expr(
        "array(" + ",".join(str(int(r["label"])) for r in rows) + ")"
    )
    sc = lambda c: dround(  # noqa: E731 — the per-cell score expression
        _dot(F.col("embedding"), c)
        / (_l2_norm(F.col("embedding")) * _l2_norm(c)),
        6,
    )
    pairs = F.zip_with(
        F.transform(cents_lit, sc),
        cells_lit,
        lambda s, c: F.struct((-s).alias("ns"), c.alias("cell")),
    )
    assign = emb.select(
        "vec_id",
        F.array_min(pairs)["cell"].cast(label_type).alias("cell"),
    )
    if neighbor_lang is not None:
        flt = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("lang") == neighbor_lang)
            .select(F.col("doc_id").alias("vec_id"))
        )
        assign = assign.join(never_broadcast(flt), "vec_id", "left_semi")
    probe = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(F.slice(F.array_sort(pairs), 1, 2)).alias("p", "s"),
        )
        .select("query_id", F.col("s.cell").cast(label_type).alias("cell"))
    )
    cand = probe.join(assign, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))
    # broadcast only the BOUNDED query batch (vec_id < 8), never the full
    # vector frame: broadcasting unfiltered `emb` here would ship the
    # whole corpus to every executor and OOM the driver at scale, even
    # though the join output is identical.  The corpus-side neighbor
    # lookup is pinned to sort-merge for the same reason.
    qv = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    nv = never_broadcast(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
    )
    cosine = dround(
        _dot(F.col("qv"), F.col("nv")) / (_l2_norm(F.col("qv")) * _l2_norm(F.col("nv"))),
        4,
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rk") <= 5)
    )


@query("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unfiltered IVF top-5 — the shared probe plan of
    :func:`_ivf_probe_topk` over the whole corpus."""
    return _ivf_probe_topk(spark, sf_dir)


_IVF_FILTERED_ORACLE = """
    WITH bits AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
                         CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
    cent AS (SELECT label, i, FLOOR(AVG(v) * 10000.0 + 0.5) / 10000.0 AS cv
             FROM bits GROUP BY label, i),
    vnorm AS (SELECT vec_id, SQRT(SUM(v * v)) AS nv FROM bits GROUP BY vec_id),
    cnorm AS (SELECT label, SQRT(SUM(cv * cv)) AS nc FROM cent GROUP BY label),
    score AS (
      SELECT b.vec_id, c.label,
             FLOOR((SUM(b.v * c.cv) / (MAX(vn.nv) * MAX(cn.nc))) * 1000000.0 + 0.5)
               / 1000000.0 AS s
      FROM bits b
      JOIN cent c ON c.i = b.i
      JOIN vnorm vn ON vn.vec_id = b.vec_id
      JOIN cnorm cn ON cn.label = c.label
      GROUP BY b.vec_id, c.label),
    flt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    assign AS (SELECT vec_id, label AS cell FROM (
                 SELECT vec_id, label,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rk
                 FROM score) WHERE rk = 1),
    probe AS (SELECT vec_id AS query_id, label AS cell FROM (
                 SELECT vec_id, label,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rk
                 FROM score WHERE vec_id < 8) WHERE rk <= 2),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
             FROM probe p
             JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
             JOIN flt f ON f.doc_id = a.vec_id),
    cos AS (
      SELECT c.query_id, c.neighbor_id,
             SUM(q.v * n.v) AS dot, SUM(q.v * q.v) AS qq, SUM(n.v * n.v) AS nn
      FROM cand c
      JOIN bits q ON q.vec_id = c.query_id
      JOIN bits n ON n.vec_id = c.neighbor_id AND n.i = q.i
      GROUP BY c.query_id, c.neighbor_id)
    SELECT query_id, neighbor_id,
           FLOOR((dot / (SQRT(qq) * SQRT(nn))) * 10000.0 + 0.5) / 10000.0 AS cosine,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY FLOOR((dot / (SQRT(qq) * SQRT(nn))) * 10000.0 + 0.5) / 10000.0 DESC,
                         neighbor_id) AS BIGINT) AS rk
    FROM cos
    QUALIFY rk <= 5
"""


@query("ann_ivf_topk_filtered", oracle=_IVF_FILTERED_ORACLE)
def ann_ivf_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search (round 18): IVF top-5 cosine restricted
    to neighbors whose document metadata matches a predicate
    (``documents.lang = 'en'``) — the retrieval shape every RAG /
    curation pipeline needs ("nearest English docs"), served from the
    SAME index as the unfiltered probe.  The predicate reaches the
    candidate relation BEFORE ranking (a vec_id semi-join on the
    assignment table — see :func:`_ivf_probe_topk`), so each query's
    top-5 is exact over the filtered corpus within its probed cells;
    post-filtering an unfiltered top-5 would return < 5 (or wrong)
    neighbors wherever excluded docs crowd the cells.  Queries
    themselves are NOT filtered — callers search with any vector
    against the restricted corpus."""
    return _ivf_probe_topk(spark, sf_dir, neighbor_lang="en")


@query(
    "embedding_centroid_per_label",
    oracle="""
        WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS i,
                          unnest(embedding) AS v
                   FROM embeddings)
        SELECT CAST(label AS INT) AS label, CAST(i AS INT) AS dim_idx,
               FLOOR((AVG(CAST(v AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS centroid_val,
               COUNT(*) AS n_vecs
        FROM e WHERE i <= 4 GROUP BY label, i
    """,
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (first 4 dims) — the reduce step of
    IVF coarse quantization / k-means, expressed as posexplode + agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("label").cast("int").alias("label"),
        F.posexplode("embedding").alias("pos", "v"),
    ).filter(F.col("pos") < 4)
    return (
        e.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim_idx"))
        .agg(
            dround(F.avg(F.col("v").cast("double")), 4).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


from awsbatch_mapreduce_spark.functions.rounding import (  # noqa: E402
    fixed_point_avg,
    fixed_point_avg_sql,
)

_QUANT_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    m AS (
      SELECT vec_id, label, e,
             list_min(e) AS mn,
             GREATEST((list_max(e) - list_min(e)) / 255.0, 1e-12) AS sc
      FROM v),
    per_vec AS (
      SELECT label,
             list_sum(list_transform(e, x ->
               (x - (mn + FLOOR((x - mn) / sc + 0.5) * sc))
               * (x - (mn + FLOOR((x - mn) / sc + 0.5) * sc))))
               / len(e) * 1000000.0 AS mse_ppm
      FROM m)
    SELECT CAST(label AS BIGINT) AS label,
           COUNT(*) AS n_vecs,
           {fixed_point_avg_sql('mse_ppm', 4, 4)} AS avg_mse_ppm
    FROM per_vec
    GROUP BY label
"""


@query("embedding_int8_quantization", oracle=_QUANT_ORACLE)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings (per-vector min/max
    codebook), reporting reconstruction MSE (in ppm) per label.

    The 4x storage cut is what makes billion-vector ANN serving fit in
    memory; the MSE report is the quality gate before swapping the
    float index out.  Everything is JVM-side array math (transform /
    aggregate higher-order functions) — one scan, one tiny-key
    aggregate, no UDF, no shuffle of the vectors themselves.

    The per-vector fold is sequential (left-to-right) in both engines,
    and the per-label mean uses the fixed-point order-independent form,
    so the oracle hash-matches despite float arithmetic.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", F.col("label").cast("bigint").alias("label"), v.alias("e"))
    mn = F.array_min("e")
    sc = F.greatest(
        (F.array_max("e") - F.array_min("e")) / 255.0, F.lit(1e-12)
    )
    with_cb = base.select("label", "e", mn.alias("mn"), sc.alias("sc"))
    err = F.transform(
        "e",
        lambda x: (
            (x - (F.col("mn") + F.floor((x - F.col("mn")) / F.col("sc") + 0.5) * F.col("sc")))
            * (x - (F.col("mn") + F.floor((x - F.col("mn")) / F.col("sc") + 0.5) * F.col("sc")))
        ),
    )
    per_vec = with_cb.select(
        "label",
        (
            F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x)
            / F.size("e")
            * 1000000.0
        ).alias("mse_ppm"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        fixed_point_avg("mse_ppm", 4, 4).alias("avg_mse_ppm"),
    )


_LSH_TOPK_ORACLE = """
    WITH bits AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                         CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
    keys AS (
      SELECT vec_id,
             STRING_AGG(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY i)
               || '/' || CAST((i - 1) // 6 AS VARCHAR) AS bk
      FROM bits WHERE i <= 18
      GROUP BY vec_id, (i - 1) // 6),
    cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
             FROM keys q JOIN keys c
               ON q.bk = c.bk AND q.vec_id < 8 AND c.vec_id <> q.vec_id),
    cos AS (
      SELECT c.query_id, c.neighbor_id,
             SUM(x.v * y.v) AS dot, SUM(x.v * x.v) AS qq, SUM(y.v * y.v) AS nn
      FROM cand c
      JOIN bits x ON x.vec_id = c.query_id
      JOIN bits y ON y.vec_id = c.neighbor_id AND y.i = x.i
      GROUP BY c.query_id, c.neighbor_id)
    SELECT query_id, neighbor_id,
           FLOOR((dot / (SQRT(qq) * SQRT(nn))) * 10000.0 + 0.5) / 10000.0
             AS cosine,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY FLOOR((dot / (SQRT(qq) * SQRT(nn))) * 10000.0 + 0.5)
                     / 10000.0 DESC, neighbor_id) AS rk
          FROM cos)
    WHERE rk <= 5
"""


@query("ann_lsh_topk", oracle=_LSH_TOPK_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via sign-LSH bucketing — the third leg of the
    similarity-search ladder (brute force -> IVF -> LSH): three 6-bit
    sign bands generate candidates, exact cosine re-ranks them.

    Unlike IVF (``ann_ivf_topk``) there is no trained codebook — the
    index is purely hash-derived, so it builds in one map pass and
    appends incrementally; the trade is lower recall per probe.  The
    candidate join is band-key equi (never query x corpus); only
    candidates pay the exact-cosine verify.  At 100 TB the band keys
    shuffle 24-byte strings, not vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    keys = emb.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                _sign_band_key(0, 0, 6),
                _sign_band_key(1, 6, 12),
                _sign_band_key(2, 12, 18),
            )
        ).alias("bk"),
    ).select("vec_id", "bk")
    q = keys.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "bk"
    )
    cand = (
        keys.join(F.broadcast(q), "bk")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    # same hygiene as ann_ivf_topk: broadcast the bounded query batch
    # only; the corpus-side vector lookup stays on the shuffle path.
    va = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    vb = never_broadcast(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
    )
    cosine = dround(
        _dot(F.col("qv"), F.col("nv")) / (_l2_norm(F.col("qv")) * _l2_norm(F.col("nv"))),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.join(F.broadcast(va), "query_id")
        .join(vb, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
    )


_XMODAL_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, unnest(embedding) AS v FROM embeddings),
    n AS (
      SELECT vec_id, CAST(MAX(label) AS INT) AS label,
             FLOOR((SQRT(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                   * 10000.0 + 0.5) / 10000.0 AS l2_norm
      FROM e GROUP BY vec_id)
    SELECT d.lang, n.label,
           COUNT(*) AS n_items,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
           {fixed_point_avg_sql('n.l2_norm', 4, 4)} AS avg_l2_norm
    FROM n JOIN documents d ON d.doc_id = n.vec_id
    GROUP BY d.lang, n.label
"""


@query("doc_embedding_join_profile", oracle=_XMODAL_ORACLE)
def doc_embedding_join_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal corpus profile: join the text table to its embedding
    table (doc_id = vec_id) and report per (lang, label) item counts,
    token volume, and mean embedding norm — the sanity join every
    multimodal pipeline runs to confirm the modalities actually line up
    before training (and the shape of any doc+vector enrichment join).

    Scale shape: an equi-join on the shared key, left to Catalyst —
    stats pick a broadcast at test SF and a sort-merge once both sides
    are fact-sized — then the profile aggregate is partial+final over
    a bounded (lang x label) domain.  Norms are
    rounded per row (deterministic single-row fold) and averaged
    fixed-point, so the cross-engine hash is exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        dround(_l2_norm(F.col("embedding")), 4).alias("l2_norm"),
    )
    return (
        n.join(docs, n.vec_id == docs.doc_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
            fixed_point_avg("l2_norm", 4, 4).alias("avg_l2_norm"),
        )
    )


# Product quantization: 64 dims -> 8 subspaces x 8 dims, K=10 codebook
# entries per subspace (per-label subspace means — same "labels as
# trained clusters" convention as ann_ivf_topk's coarse codebook).
_PQ_SUB = 8  # dims per subspace

_PQ_ORACLE = f"""
    WITH bits AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
                  AS BIGINT) AS vq
      FROM embeddings),
    sub AS (
      SELECT vec_id, label, (i - 1) // {_PQ_SUB} AS m,
             (i - 1) % {_PQ_SUB} AS j, vq
      FROM bits),
    cb AS (
      SELECT label AS k, m, j,
             CAST(FLOOR(AVG(vq) + 0.5) AS BIGINT) AS cq
      FROM sub GROUP BY label, m, j),
    dist AS (
      SELECT s.vec_id, s.m, c.k,
             SUM((s.vq - c.cq) * (s.vq - c.cq)) AS d
      FROM sub s JOIN cb c ON c.m = s.m AND c.j = s.j
      GROUP BY s.vec_id, s.m, c.k),
    code AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d, k) AS rk
        FROM dist) WHERE rk = 1),
    adc AS (
      SELECT qd.vec_id AS query_id, x.vec_id AS neighbor_id,
             SUM(qd.d) AS adc_d
      FROM code x
      JOIN dist qd ON qd.m = x.m AND qd.k = x.code AND qd.vec_id < 8
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id,
           CAST(adc_d AS BIGINT) AS adc_dist,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d, neighbor_id)
                AS BIGINT) AS rk
    FROM adc
    WHERE query_id <> neighbor_id
    QUALIFY rk <= 5
"""


@query("ann_pq_adc_topk", oracle=_PQ_ORACLE)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC): encode
    every corpus vector as 8 one-byte codes (argmin per 8-dim subspace
    against a 10-entry per-subspace codebook), then score queries
    against *codes* via per-query lookup tables — the memory-bound
    regime where IVF alone still touches full vectors.  Completes the
    ANN ladder: brute-force -> sign-LSH -> IVF -> PQ/ADC.

    Scale path: the codebook (10x8x8 entries) and each query's
    distance table (8 subspaces x 10 entries per query) are broadcast;
    the corpus is touched by exactly two scans (encode, ADC) and the
    only per-vector shuffle key is (vec_id, m) for the encode argmin —
    embeddings themselves never shuffle in the ADC pass, which is the
    entire point of PQ at 100 TB: top-k over codes, 8 bytes per
    vector.  Everything is fixed-point integer (1e4 quantization, then
    exact integer squared distances), so the cross-engine hash is
    exact, not approximately equal.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sub = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") / _PQ_SUB).cast("int").alias("m"),
        (F.col("pos") % _PQ_SUB).alias("j"),
        F.floor(F.col("v").cast("double") * 10000.0 + 0.5)
        .cast("bigint")
        .alias("vq"),
    )
    cb = sub.groupBy(F.col("label").alias("k"), "m", "j").agg(
        F.floor(F.avg("vq") + 0.5).cast("bigint").alias("cq")
    )
    dist = (
        sub.join(F.broadcast(cb), ["m", "j"])
        .groupBy("vec_id", "m", "k")
        .agg(
            F.sum((F.col("vq") - F.col("cq")) * (F.col("vq") - F.col("cq")))
            .alias("d")
        )
    )
    w_code = Window.partitionBy("vec_id", "m").orderBy("d", "k")
    code = (
        dist.withColumn("rk", F.row_number().over(w_code))
        .filter(F.col("rk") == 1)
        .select("vec_id", "m", F.col("k").alias("code"))
    )
    qdist = dist.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        "m",
        F.col("k").alias("code"),
        "d",
    )
    adc = (
        code.join(F.broadcast(qdist), ["m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_d"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return (
        adc.select(
            "query_id",
            "neighbor_id",
            F.col("adc_d").cast("bigint").alias("adc_dist"),
        )
        .withColumn(
            "rk",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    "adc_dist", "neighbor_id"
                )
            )
            .cast("bigint"),
        )
        .filter(F.col("rk") <= 5)
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


@query("hard_negative_mining", oracle=_HARDNEG_ORACLE)
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


@query("ann_recall_eval", oracle=_recall_oracle(_IVF_ORACLE))
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


@query("ann_pq_recall_eval", oracle=_recall_oracle(_PQ_ORACLE))
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


_EMB_BAND_HIST_ORACLE = f"""
    WITH {_EMB_KEYS_SQL},
    loads AS (SELECT bk, COUNT(*) AS s FROM keys GROUP BY bk)
    SELECT CAST(s AS BIGINT) AS bucket_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(*) * (s * (s - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM loads GROUP BY s
"""


@query("emb_band_load_histogram", oracle=_EMB_BAND_HIST_ORACLE)
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


# --- embedding label-outlier screen --------------------------------------

_EMB_OUTLIER_K = 20


_EMB_OUTLIER_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
                  AS BIGINT) AS vfp
      FROM embeddings),
    c AS (
      SELECT label, i,
             CAST((num - (((num % den) + den) % den)) / den AS BIGINT)
               AS cfp
      FROM (SELECT label, i,
                   2 * SUM(vfp) + COUNT(*) AS num,
                   2 * COUNT(*) AS den
            FROM e GROUP BY label, i)),
    d AS (
      SELECT e.vec_id, e.label,
             SUM(e.vfp * c.cfp) AS dot,
             SUM(e.vfp * e.vfp) AS na,
             SUM(c.cfp * c.cfp) AS nc
      FROM e JOIN c ON c.label = e.label AND c.i = e.i
      GROUP BY 1, 2)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(label AS INT) AS label,
           CAST(FLOOR(dot / (sqrt(na) * sqrt(nc)) * 10000.0 + 0.5)
                AS BIGINT) AS cosine_bp
    FROM d
    WHERE na > 0 AND nc > 0
    ORDER BY cosine_bp ASC, vec_id ASC
    LIMIT {_EMB_OUTLIER_K}
"""


@query("embedding_label_outliers", oracle=_EMB_OUTLIER_ORACLE)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen: the {k} vectors LEAST aligned with their own
    label's centroid (cosine in basis points, ascending) — the cheap
    mislabeled/contaminated-sample detector run before training on a
    labeled embedding corpus, and the per-vector drill-down behind
    ``embedding_centroid_drift``'s label-level health read.

    Determinism recipe: vector components quantize to 4 decimals (the
    IVF-codebook discipline) and the centroid component is
    round-half-up(sum/n) computed entirely in int64
    (floor((2S+n)/(2n)) via pmod — no float accumulation anywhere), so
    the dot product and both norms are EXACT int64 arithmetic —
    order-independent under any partitioning; only the final cosine
    touches floats (sqrt of exact integers), rounded once to bp.  At 64 dims
    and |v| <= 1, the integer sums stay < 2e9 — no overflow at any
    corpus size (per-vector sums don't grow with the corpus).

    Scale shape: one posexplode + a (label, dim)-keyed centroid
    average (map-side partials, |labels| x 64 rows, broadcast-sized by
    construction), a per-vector integer reduce, then distributed
    top-k (TakeOrderedAndProject) — no corpus-sized sort, no
    data-scaled join.
    """
    from awsbatch_mapreduce_spark.functions.rounding import dround

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.posexplode("embedding").alias("i", "v"),
    ).select(
        "vec_id",
        "label",
        "i",
        F.floor(F.col("v").cast("double") * 10000.0 + F.lit(0.5))
        .cast("bigint")
        .alias("vfp"),
    )
    # Centroid component = round-half-up(sum/n) in EXACT int64 per the
    # repo's fixed_point_avg doctrine (ADVICE r7: a float F.avg could
    # flip a component landing on a .5 quantization boundary between
    # partitionings/engines).  floor((2S+n)/(2n)) == floor(S/n + 1/2);
    # pmod makes the division floor (not truncate) for negative sums,
    # and (num - pmod) is exactly divisible so the final `/` is exact.
    c = (
        e.groupBy("label", "i")
        .agg(
            (F.lit(2) * F.sum("vfp") + F.count(F.lit(1))).alias("num"),
            (F.lit(2) * F.count(F.lit(1))).alias("den"),
        )
        .select(
            "label",
            "i",
            (
                (F.col("num") - F.pmod("num", "den")) / F.col("den")
            )
            .cast("bigint")
            .alias("cfp"),
        )
    )
    d = (
        e.join(F.broadcast(c), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("vfp") * F.col("cfp")).alias("dot"),
            F.sum(F.col("vfp") * F.col("vfp")).alias("na"),
            F.sum(F.col("cfp") * F.col("cfp")).alias("nc"),
        )
        .filter((F.col("na") > 0) & (F.col("nc") > 0))
    )
    return (
        d.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "label",
            F.floor(
                F.col("dot") / (F.sqrt("na") * F.sqrt("nc")) * 10000.0
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cosine_bp"),
        )
        .orderBy(F.asc("cosine_bp"), F.asc("vec_id"))
        .limit(_EMB_OUTLIER_K)
    )


embedding_label_outliers.__doc__ = embedding_label_outliers.__doc__.format(
    k=_EMB_OUTLIER_K
)
