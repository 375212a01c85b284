"""Mercator projection query + data-quality validation report, plus
referential-integrity, column-profile and per-language token-count
gate audits.

``mercator_projection`` upgrades reference-parity P2 from the affine
stand-in to the true EPSG:4326->3857 math (``operators.geo``), checked
against the same closed form in SQL.  ``data_quality_report`` is the
expectation-style validation pass a training-data pipeline runs before
ingest: null/range/referential checks in ONE scan per table, emitted as
a (check, n_violations, n_checked) report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.functions.rounding import dround
from awsbatch_mapreduce_spark.operators.geo import mercator_cols
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

# pseudo lat/lon derived deterministically from customer keys/balances:
# lon in [-180, 180), lat clamped well inside (-90, 90)
_LON = "(c_custkey % 360) - 180.0"
_LAT = "((ABS(c_acctbal) % 160.0) - 80.0)"

_MERCATOR_ORACLE = f"""
    SELECT c_custkey,
           FLOOR((({_LON}) * 6378137.0 * PI() / 180.0) * 10000.0 + 0.5)
             / 10000.0 AS merc_x,
           FLOOR((6378137.0 * LN(TAN(PI() / 4.0 + ({_LAT}) * PI() / 360.0)))
                 * 10000.0 + 0.5) / 10000.0 AS merc_y
    FROM customer
"""


@query("mercator_projection", oracle=_MERCATOR_ORACLE)
def mercator_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Web-Mercator reprojection (reference P2,
    ``src/awsbatch-map/main.py:67-72``) over pseudo-coordinates derived
    from the customer fixture; JVM closed form, checked against the
    identical SQL expression to 4 decimals (~0.1 mm).
    """
    c = load_table(spark, sf_dir, "customer")
    lon = (F.col("c_custkey") % 360) - F.lit(180.0)
    lat = (F.abs(F.col("c_acctbal")) % 160.0) - F.lit(80.0)
    x, y = mercator_cols(lon, lat)
    return c.select(
        "c_custkey",
        dround(x, 4).alias("merc_x"),
        dround(y, 4).alias("merc_y"),
    )


_QUALITY_ORACLE = """
    WITH li AS (SELECT * FROM lineitem)
    SELECT 'null_shipdate' AS check_name,
           COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS n_violations,
           COUNT(*) AS n_checked
    FROM li
    UNION ALL
    SELECT 'nonpositive_price',
           COUNT(*) FILTER (WHERE l_extendedprice <= 0), COUNT(*)
    FROM li
    UNION ALL
    SELECT 'discount_out_of_range',
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5), COUNT(*)
    FROM li
    UNION ALL
    SELECT 'orphan_orderkey',
           COUNT(*) FILTER (WHERE o_orderkey IS NULL), COUNT(*)
    FROM li LEFT JOIN orders ON o_orderkey = l_orderkey
"""


@query("data_quality_report", oracle=_QUALITY_ORACLE)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation checks as data: null, range, and referential
    integrity violations with denominators — the pre-ingest gate of a
    training-data pipeline.

    The three scalar checks share ONE scan (conditional aggregation,
    then unpivot); only the referential check joins.  At 100 TB each
    check stays a map-side counter; the report is 4 rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    scalar = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)).alias(
            "null_shipdate"
        ),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1)
            .otherwise(0)
        ).alias("discount_out_of_range"),
    )
    checks = scalar.selectExpr(
        "stack(3, "
        "'null_shipdate', null_shipdate, "
        "'nonpositive_price', nonpositive_price, "
        "'discount_out_of_range', discount_out_of_range) "
        "AS (check_name, n_violations)",
        "n AS n_checked",
    ).select("check_name", F.col("n_violations").cast("bigint"), "n_checked")
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left")
        .agg(
            F.lit("orphan_orderkey").alias("check_name"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
            F.count(F.lit(1)).alias("n_checked"),
        )
    )
    return checks.unionByName(orphans)


_FK_RELATIONS = [
    # (name, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


_FK_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS relation,
               COUNT(*) AS n_child_rows,
               CAST(COUNT(*) FILTER (WHERE p.{pk} IS NULL) AS BIGINT)
                 AS n_orphans
        FROM {child} c
        LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
          ON p.{pk} = c.{ck}"""
    for name, child, ck, parent, pk in _FK_RELATIONS
)


@query("referential_integrity_audit", oracle=_FK_ORACLE)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: orphan counts for every FK relationship in
    the schema, one row per relation — run before a join-heavy batch so
    silent inner-join row loss is caught as data corruption instead.

    Each relation is a single left join + aggregate pass over the child
    table (no second scan for the total).  Parent sides are
    key-projected and deduped first; Catalyst broadcasts the
    dimension-sized ones and shuffle-joins the fact-sized ones — at
    100 TB each relation is one key-only shuffle at worst, and the five
    audits run as independent stages (a scheduler can overlap them).
    """
    out = None
    for name, child, ck, parent, pk in _FK_RELATIONS:
        c = load_table(spark, sf_dir, child).select(ck)
        p = load_table(spark, sf_dir, parent).select(pk).distinct()
        audit = (
            c.join(p, c[ck] == p[pk], "left")
            .agg(
                F.count(F.lit(1)).alias("n_child_rows"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("relation"), "n_child_rows", "n_orphans"
            )
        )
        out = audit if out is None else out.unionByName(audit)
    return out


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
               COUNT(*) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT md5(CAST({c} AS VARCHAR))) AS BIGINT)
                 AS n_distinct,
               CAST(MIN(length(CAST({c} AS VARCHAR))) AS BIGINT) AS min_len,
               CAST(MAX(length(CAST({c} AS VARCHAR))) AS BIGINT) AS max_len
        FROM documents"""
    for c in _PROFILE_COLS
)


@query("column_profile_documents", oracle=_PROFILE_ORACLE)
def column_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of a new corpus drop: row/null/distinct
    counts and value-length range — the first query run on any unknown
    dataset.

    Distinct counting hashes values to md5 digests first, so the
    distinct shuffle carries 32-byte digests instead of document
    bodies — the profile costs the same whether a column holds langs
    or multi-KB texts (same digest-not-body discipline as the snapshot
    diff).  Each column profiles in one pass; results union.
    """
    docs = load_table(spark, sf_dir, "documents")
    out = None
    for c in _PROFILE_COLS:
        s = F.col(c).cast("string")
        prof = docs.select(
            F.md5(s).alias("digest"), F.length(s).alias("len")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("digest").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nulls"),
            F.count_distinct(F.col("digest")).alias("n_distinct"),
            F.min("len").cast("bigint").alias("min_len"),
            F.max("len").cast("bigint").alias("max_len"),
        ).select(
            F.lit(c).alias("column_name"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_len",
            "max_len",
        )
        out = prof if out is None else out.unionByName(prof)
    return out


# --- histogram-based exact per-language percentile gate ------------------

_LANG_P10_ORACLE = """
    WITH v AS (
      SELECT lang, len(string_split(text, ' ')) AS nt FROM documents),
    h AS (SELECT lang, nt, COUNT(*) AS c FROM v GROUP BY 1, 2),
    t AS (SELECT lang, SUM(c) AS n FROM h GROUP BY 1),
    cum AS (
      SELECT lang, nt,
             SUM(c) OVER (PARTITION BY lang ORDER BY nt) AS cc
      FROM h),
    cut AS (
      SELECT cum.lang, MIN(cum.nt) AS p10
      FROM cum JOIN t USING (lang)
      WHERE cum.cc >= (t.n + 9) // 10
      GROUP BY 1)
    SELECT h.lang,
           CAST(MAX(t.n) AS BIGINT) AS n_docs,
           CAST(MAX(cut.p10) AS BIGINT) AS p10_tokens,
           CAST(COALESCE(SUM(h.c) FILTER (WHERE h.nt < cut.p10), 0)
                AS BIGINT) AS n_below_cut
    FROM h JOIN t USING (lang) JOIN cut USING (lang)
    GROUP BY h.lang
"""


@query("lang_token_p10_gate", oracle=_LANG_P10_ORACLE)
def lang_token_p10_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-language length floor: the EXACT 10th-percentile
    token count per language (rank ceil(n/10) on the sorted counts)
    and how many documents fall below it — the per-stratum adaptive
    threshold that replaces one global length cut (which over-prunes
    terse languages and under-prunes verbose ones).

    Third exact-quantile recipe on the engine, picked by value-domain
    shape: ``events_quantiles_exact`` bands an UNBOUNDED float domain;
    here token counts are small integers, so the corpus collapses to a
    (lang, n_tokens) histogram first and every rank operation runs on
    that bounded frame.  The cumulative window partitions are
    histogram-sized, never corpus-sized — no hot-key sort at any
    corpus scale.

    Scale shape: one map + one (lang, nt)-keyed partial-agg shuffle is
    the only corpus-sized work; the window/join/final-agg all run on
    the bounded histogram, so the exact percentile costs the same at
    100 TB as at sf0.01.
    """
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select("lang", F.size(F.split("text", " ")).alias("nt"))
    h = v.groupBy("lang", "nt").agg(F.count(F.lit(1)).alias("c"))
    t = h.groupBy("lang").agg(F.sum("c").alias("n"))
    cum = h.select(
        "lang",
        "nt",
        "c",
        F.sum("c")
        .over(Window.partitionBy("lang").orderBy("nt"))
        .alias("cc"),
    )
    cut = (
        cum.join(F.broadcast(t), "lang")
        .filter(F.col("cc") >= F.expr("(n + 9) div 10"))
        .groupBy("lang")
        .agg(F.min("nt").alias("p10"))
    )
    return (
        h.join(F.broadcast(t), "lang")
        .join(F.broadcast(cut), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.max("p10").cast("bigint").alias("p10_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("nt") < F.col("p10"), F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_below_cut"),
        )
    )
