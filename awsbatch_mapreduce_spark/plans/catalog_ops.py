"""Catalog / lifecycle operators: snapshot diffing, inverted-index
build, language-ID evaluation, column-statistics profiling, and the
two physical-layout queries (a z-order clustered copy answering a
pruned box scan, and a bucketed join with no shuffle).

These are the "run the data platform" capabilities around the core
query surface: detect what changed between corpus versions, build the
retrieval index, evaluate a classifier against labels, and collect the
per-column statistics a cost-based optimizer (or a data catalog) wants.

Scale notes (100 TB): the snapshot diff is a single full-outer
hash-join on the id with md5 content compare — bodies never shuffle
(16-byte digests do).  The inverted index shuffles (term, doc_id)
pairs once and truncates posting heads engine-side.  The confusion
matrix and stats profile are one-scan hash aggregates with bounded
output keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.operators.compact import compact_parquet
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.scratch import (
    _scratch_dir,
    _scratch_tag,
    drop_tables,
)
from awsbatch_mapreduce_spark.sources.tables import load_table

# Snapshot B, derived deterministically from snapshot A (= documents):
# every 97th doc removed, every 13th doc's text revised, every 89th doc
# cloned as a new id.  The same derivation runs in both engines.
_SNAP_B_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END
               AS text
      FROM documents WHERE doc_id % 97 <> 0
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 89 = 0
"""

_DIFF_ORACLE = f"""
    WITH b AS ({_SNAP_B_SQL}),
    a AS (SELECT doc_id, md5(text) AS fp FROM documents),
    b2 AS (SELECT doc_id, md5(text) AS fp FROM b),
    j AS (SELECT COALESCE(a.doc_id, b2.doc_id) AS doc_id,
                 CASE WHEN a.doc_id IS NULL THEN 'added'
                      WHEN b2.doc_id IS NULL THEN 'removed'
                      WHEN a.fp <> b2.fp THEN 'changed'
                      ELSE 'unchanged' END AS status
          FROM a FULL OUTER JOIN b2 ON a.doc_id = b2.doc_id)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM j GROUP BY status
"""


@query("dataset_snapshot_diff", oracle=_DIFF_ORACLE)
def dataset_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff: added / removed / changed / unchanged
    counts between snapshot A and a deterministically derived
    snapshot B — the audit step before promoting a new training-data
    build.

    Contents are compared by md5 digest, so the full-outer join
    shuffles (id, 16-byte fp) pairs only, never document bodies; at
    100 TB the diff costs one id-keyed shuffle regardless of doc size.
    """
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.md5("text").alias("fp"))
    b_kept = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0, F.concat("text", F.lit(" rev2"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    b_new = docs.filter(F.col("doc_id") % 89 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.md5("text").alias("fp")
    )
    b = b_kept.unionByName(b_new)
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("b.fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"))
    )


_INDEX_ORACLE = """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 10), ',')
             AS postings_head
    FROM toks
    GROUP BY term
"""


@query("inverted_index_postings", oracle=_INDEX_ORACLE)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per-term document frequency and the head
    of the sorted posting list (first 10 ids) — the retrieval-side
    index a RAG/search pipeline derives from the corpus.

    One shuffle of distinct (term, doc_id) pairs; posting lists are
    assembled per term and truncated engine-side, so the output stays
    bounded however large the corpus (a real deployment shards the
    full postings by term range — same plan shape, bigger slice).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    return toks.groupBy("term").agg(
        F.count("*").alias("df"),
        F.concat_ws(
            ",",
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10).cast(
                "array<string>"
            ),
        ).alias("postings_head"),
    )


_CONFUSION_ORACLE = """
    SELECT lang AS lang_true,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     x -> x IN ('the', 'a', 'of', 'and'))) >= 2
                THEN 'en'
                WHEN len(list_filter(string_split(text, ' '),
                                     x -> x IN ('el', 'la', 'de', 'y'))) >= 2
                THEN 'es'
                ELSE 'unknown' END AS lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1, 2
"""


@query("lang_id_confusion", oracle=_CONFUSION_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language-ID heuristic
    (``text_language_id``) against the fixture's ``lang`` labels —
    the evaluation rollup that decides whether a classifier gates
    ingest.

    Same predictor expression as ``text_language_id``; one scan, one
    hash aggregate on a (true, pred) key of bounded cardinality.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en_hits = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and")))
    es_hits = F.size(F.filter(toks, lambda x: x.isin("el", "la", "de", "y")))
    pred = (
        F.when(en_hits >= 2, "en")
        .when(es_hits >= 2, "es")
        .otherwise("unknown")
    )
    return (
        docs.select(F.col("lang").alias("lang_true"), pred.alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


_STATS_ORACLE = """
    WITH s AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) FILTER (WHERE o_orderpriority IS NULL) AS nn_pri,
             COUNT(DISTINCT o_orderpriority) AS ndv_pri,
             CAST(MIN(o_orderpriority) AS VARCHAR) AS mn_pri,
             CAST(MAX(o_orderpriority) AS VARCHAR) AS mx_pri,
             COUNT(*) FILTER (WHERE o_custkey IS NULL) AS nn_cust,
             COUNT(DISTINCT o_custkey) AS ndv_cust,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn_cust,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx_cust,
             COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS nn_st,
             COUNT(DISTINCT o_orderstatus) AS ndv_st,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS mn_st,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS mx_st
      FROM orders)
    SELECT 'o_orderpriority' AS col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(nn_pri AS BIGINT) AS n_nulls, CAST(ndv_pri AS BIGINT) AS ndv,
           mn_pri AS min_value, mx_pri AS max_value FROM s
    UNION ALL
    SELECT 'o_custkey', n_rows, nn_cust, ndv_cust, mn_cust, mx_cust FROM s
    UNION ALL
    SELECT 'o_orderstatus', n_rows, nn_st, ndv_st, mn_st, mx_st FROM s
"""


@query("analyze_table_stats", oracle=_STATS_ORACLE)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics (rows, nulls, exact NDV,
    min/max) for a column set, emitted as one catalog-shaped report —
    what a cost-based optimizer ingests to pick join orders and a
    data catalog shows users.

    All columns profile in ONE scan (Spark expands the multi-distinct
    aggregate internally); min/max are stringified so the report has a
    uniform schema across column types.  At 100 TB swap exact NDV for
    ``approx_count_distinct`` — same plan, sketch merge instead of
    expand (documented trade, exact here to stay oracle-checkable).
    """
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count("*").alias("n_rows"),
        *[
            e
            for c, tag in [
                ("o_orderpriority", "pri"),
                ("o_custkey", "cust"),
                ("o_orderstatus", "st"),
            ]
            for e in (
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"nn_{tag}"),
                F.countDistinct(c).alias(f"ndv_{tag}"),
                F.min(F.col(c)).cast("string").alias(f"mn_{tag}"),
                F.max(F.col(c)).cast("string").alias(f"mx_{tag}"),
            )
        ],
    )
    return agg.selectExpr(
        "stack(3, "
        "'o_orderpriority', nn_pri, ndv_pri, mn_pri, mx_pri, "
        "'o_custkey', nn_cust, ndv_cust, mn_cust, mx_cust, "
        "'o_orderstatus', nn_st, ndv_st, mn_st, mx_st) "
        "AS (col_name, n_nulls, ndv, min_value, max_value)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "ndv", "min_value", "max_value")


_ZORDER_ORACLE = """
    WITH b AS (
      SELECT MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey)) // 10
               AS ok_hi,
             MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) // 10
               AS pk_hi
      FROM lineitem)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem, b
    WHERE l_orderkey <= b.ok_hi AND l_partkey <= b.pk_hi
"""


def zorder_scratch_dir(sf_dir: str) -> str:
    """Scratch path for the z-ordered lineitem copy."""
    return _scratch_dir("awsbatch_zorder", sf_dir)


@query("zorder_pruned_scan", oracle=_ZORDER_ORACLE)
def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a z-ordered (Morton-clustered) copy of lineitem, then
    answer a both-dimensions box predicate (bottom decile of
    l_orderkey AND of l_partkey) from the clustered copy — the
    query-level proof that ``compact_parquet(zorder_by=...)`` yields a
    table where parquet min/max stats prune files for predicates on
    EITHER clustered column.  The oracle computes the same aggregate
    from the raw table: clustering is a layout change, so the answers
    must hash-match exactly.

    The box bounds are planted as literals via one driver-side min/max
    collect (one row, the same bounded-scalar discipline as the
    k-means centroids) — literals are what reach the parquet reader as
    ``PushedFilters``; at 100 TB they come from table stats for free.
    ``sum_qty`` casts per-row to BIGINT first (quantities are integral)
    so both engines sum exact integers.  File-skipping itself is
    pinned in ``tests/test_compact.py::test_zorder_query_prunes_files``.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    path = zorder_scratch_dir(sf_dir)
    li.write.mode("overwrite").parquet(path)
    z = compact_parquet(
        spark, path, zorder_by=["l_orderkey", "l_partkey"], n_files=8
    )
    b = li.agg(
        F.min("l_orderkey").alias("ok_lo"),
        F.max("l_orderkey").alias("ok_mx"),
        F.min("l_partkey").alias("pk_lo"),
        F.max("l_partkey").alias("pk_mx"),
    ).first()
    ok_hi = b.ok_lo + (b.ok_mx - b.ok_lo) // 10
    pk_hi = b.pk_lo + (b.pk_mx - b.pk_lo) // 10
    return z.filter(
        (F.col("l_orderkey") <= F.lit(ok_hi))
        & (F.col("l_partkey") <= F.lit(pk_hi))
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders"),
        F.sum(F.col("l_quantity").cast("bigint"))
        .cast("bigint")
        .alias("sum_qty"),
    )


_BUCKETED_JOIN_ORACLE = """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
"""


@query("bucketed_join_no_shuffle", oracle=_BUCKETED_JOIN_ORACLE)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketing: write orders and
    lineitem as 8-bucket tables hashed+sorted on the order key, then
    join them — both sides are already co-partitioned AND co-sorted on
    the join key, so the sort-merge join needs NO exchange and NO sort
    (``tests/test_scale_plans.py::test_bucketed_join_has_no_join_exchange``
    pins it).  This is THE mechanism for repeated big-big joins at
    100 TB: pay the layout once at write time, join for free forever
    after — the write-side twin of what z-ordering does for scans.

    The bucket tables are registered in the session catalog with data
    under the scratch dir (external path), rewritten idempotently per
    call.  The oracle joins the raw tables: bucketing is pure layout,
    the answer must hash-match exactly.
    """
    tag = _scratch_tag(sf_dir)
    base = _scratch_dir("awsbatch_bucketed", sf_dir)
    specs = {
        f"bkt_orders_{tag}": (
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            "o_orderkey",
        ),
        f"bkt_lineitem_{tag}": (
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity"
            ),
            "l_orderkey",
        ),
    }
    drop_tables(spark, "bkt_orders_", "bkt_lineitem_")
    for name, (df, key) in specs.items():
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    o = spark.table(f"bkt_orders_{tag}")
    li = spark.table(f"bkt_lineitem_{tag}")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.count_distinct("o_orderkey").cast("bigint").alias("n_orders"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("sum_qty"),
        )
    )
