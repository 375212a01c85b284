"""Round-4 (wave 5) additions.

Headline: the z-order/compaction claim promoted from unit test to
oracle-gated query — ``zorder_pruned_scan`` writes a Morton-clustered
copy of lineitem and answers a both-dims box predicate from it, so the
driver's correctness gate covers the full write-cluster-read-prune
loop, and ``tests/test_compact.py`` pins the file-skipping itself
(VERDICT r3 next-round #6).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.operators.compact import compact_parquet
from awsbatch_mapreduce_spark.operators.hints import (
    never_broadcast,
    never_broadcast_hash,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.scratch import (
    _scratch_dir,
    _scratch_tag,
    drop_tables,
)
from awsbatch_mapreduce_spark.sources.tables import load_table

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


@query("zorder_pruned_scan", oracle=_ZORDER_ORACLE, wave=5)
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


@query("bucketed_join_no_shuffle", oracle=_BUCKETED_JOIN_ORACLE, wave=5)
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


_NATION_SHARE_ORACLE = """
    WITH rev AS (
      SELECT n.n_regionkey, n.n_name,
             SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
               AS revenue_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2)
    SELECT r.r_name, rev.n_name,
           CAST(rev.revenue_c AS BIGINT) AS revenue_c,
           CAST(rev.revenue_c * 1000000
                // SUM(rev.revenue_c) OVER (PARTITION BY rev.n_regionkey)
                AS BIGINT) AS share_ppm
    FROM rev JOIN region r ON r.r_regionkey = rev.n_regionkey
"""


@query("nation_revenue_share", oracle=_NATION_SHARE_ORACLE, wave=5)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report analytic: each nation's share of its region's
    order revenue, in exact integer ppm over fixed-point cents (float
    sums are order-dependent; cent-int sums are associative, so the
    cross-engine hash is exact).

    Scale shape: one shuffle to the 25-key nation rollup, dims
    broadcast, then the share window partitions by region — a 5-25 row
    domain, so the window state is trivially bounded.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("revenue_c")
        )
    )
    return rev.join(F.broadcast(r), rev.n_regionkey == r.r_regionkey).select(
        "r_name",
        "n_name",
        F.col("revenue_c").cast("bigint").alias("revenue_c"),
        F.expr(
            "CAST(revenue_c * 1000000 div"
            " sum(revenue_c) OVER (PARTITION BY n_regionkey) AS BIGINT)"
        ).alias("share_ppm"),
    )


_DWELL_ORACLE = """
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - LAG(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
               AS gap_s
      FROM events)
    SELECT CASE WHEN gap_s < 1 THEN '0_lt1s'
                WHEN gap_s < 10 THEN '1_lt10s'
                WHEN gap_s < 60 THEN '2_lt1m'
                WHEN gap_s < 600 THEN '3_lt10m'
                WHEN gap_s < 3600 THEN '4_lt1h'
                ELSE '5_ge1h' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM g WHERE gap_s IS NOT NULL
    GROUP BY 1
"""


@query("event_dwell_histogram", oracle=_DWELL_ORACLE, wave=5)
def event_dwell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time (inter-event gap) histogram: per-user consecutive
    event gaps bucketed into log-spaced classes — the distribution
    behind every sessionization-timeout choice (the 30-min gap in
    ``events_sessionization`` should sit in a valley of this
    histogram, not a peak).

    Gaps are computed in integer microseconds (``unix_micros`` /
    ``epoch_us``) then floor-divided to seconds: calendar ``datediff``
    functions count boundary crossings, which disagrees with floor
    division on sub-second components, so both engines stay in the
    integer epoch domain.  Scale shape: one per-user window (hash
    partition on user_id), then a 6-key rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id",
        F.floor((us - F.lag(us).over(w)) / F.lit(1000000)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    bucket = F.expr(
        "CASE WHEN gap_s < 1 THEN '0_lt1s'"
        " WHEN gap_s < 10 THEN '1_lt10s'"
        " WHEN gap_s < 60 THEN '2_lt1m'"
        " WHEN gap_s < 600 THEN '3_lt10m'"
        " WHEN gap_s < 3600 THEN '4_lt1h'"
        " ELSE '5_ge1h' END"
    )
    return g.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )


_EWMA_LAGS = 8  # trailing events folded into the average (halflife = 1 step)

_EWMA_ORACLE = """
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
             ROW_NUMBER() OVER
               (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn_desc,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events
      FROM events),
    l AS (
      SELECT user_id, rn_desc, n_events,
             {lag_terms} AS ewma_fp
      FROM q)
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(ewma_fp AS BIGINT) AS ewma_fp
    FROM l WHERE rn_desc = 1
"""


def _ewma_lag_sql() -> str:
    terms = [
        f"COALESCE(LAG(vc, {k}) OVER"
        f" (PARTITION BY user_id ORDER BY ts, event_id), 0)"
        f" * {1 << (_EWMA_LAGS - 1 - k)}"
        for k in range(_EWMA_LAGS)
    ]
    return " + ".join(terms)


@query(
    "events_ewma_halflife",
    oracle=_EWMA_ORACLE.format(lag_terms=_ewma_lag_sql()),
    wave=5,
)
def events_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event value
    (halflife = one event): the most recent event carries weight 2^7,
    each older one half that, over the trailing 8 events — the
    smoothing primitive behind rate limiting, anomaly baselines, and
    engagement scores.

    Exact cross-engine arithmetic: values quantize to cents, the decay
    weights are powers of two, and the weighted sum is a fixed
    8-term integer expression over ``LAG`` columns (missing history
    coalesces to 0) — no floats anywhere after quantization.  Scale
    shape: one window per user (hash partition on user_id), emitted
    once per user at the latest row, no unbounded state.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    vc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    q = ev.select(
        "user_id",
        vc.alias("vc"),
        F.row_number().over(wd).alias("rn_desc"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .alias("n_events"),
        *[
            F.coalesce(F.lag(vc, k).over(w), F.lit(0)).alias(f"lag{k}")
            for k in range(_EWMA_LAGS)
        ],
    )
    ewma = sum(
        F.col(f"lag{k}") * F.lit(1 << (_EWMA_LAGS - 1 - k))
        for k in range(_EWMA_LAGS)
    )
    return q.filter(F.col("rn_desc") == 1).select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        ewma.cast("bigint").alias("ewma_fp"),
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


@query("bigram_dice_topk", oracle=_DICE_ORACLE, wave=5)
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


@query("incremental_dedup_new_docs", oracle=_INCR_DEDUP_ORACLE, wave=5)
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


@query("corpus_half_drift", oracle=_HALF_DRIFT_ORACLE, wave=5)
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


@query("events_mad_outliers", oracle=_MAD_ORACLE, wave=5)
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


@query("lang_distinctive_terms", oracle=_DISTINCT_TERMS_ORACLE, wave=5)
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


_RFM_ORACLE = """
    WITH cust AS (
      SELECT o_custkey,
             MAX(epoch_us(o_orderdate) // 86400000000) AS rec_d,
             COUNT(*) AS freq,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS mon_c
      FROM orders GROUP BY o_custkey),
    q AS (
      SELECT quantile_cont(rec_d, 0.25) AS r1, quantile_cont(rec_d, 0.5) AS r2,
             quantile_cont(rec_d, 0.75) AS r3,
             quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
             quantile_cont(freq, 0.75) AS f3,
             quantile_cont(mon_c, 0.25) AS m1, quantile_cont(mon_c, 0.5) AS m2,
             quantile_cont(mon_c, 0.75) AS m3
      FROM cust)
    SELECT CAST(1 + (rec_d > r1)::INT + (rec_d > r2)::INT + (rec_d > r3)::INT
                AS BIGINT) AS r_score,
           CAST(1 + (freq > f1)::INT + (freq > f2)::INT + (freq > f3)::INT
                AS BIGINT) AS f_score,
           CAST(1 + (mon_c > m1)::INT + (mon_c > m2)::INT + (mon_c > m3)::INT
                AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(mon_c) AS BIGINT) AS revenue_c
    FROM cust, q
    GROUP BY 1, 2, 3
"""


@query("customer_rfm_segments", oracle=_RFM_ORACLE, wave=5)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: score every customer 1-4 on Recency (last
    order day), Frequency (order count), and Monetary (lifetime cents)
    against the exact quartiles of the customer population, then roll
    up segment sizes and revenue — the classic marketing cube, done
    the scale-safe way: quartile CUT-POINTS via one aggregate
    (broadcast 9 scalars) and scores via comparisons, never a global
    NTILE sort (the ``customer_value_deciles`` lesson, r2).

    Cross-engine exactness: all three metrics are integers (epoch
    days, counts, cents); interpolated quartiles of integers are
    dyadic rationals computed identically by Spark ``percentile`` and
    DuckDB ``quantile_cont``, and scores depend only on strict
    comparisons against them.
    """
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(
            F.expr(
                "unix_micros(cast(o_orderdate as timestamp))"
                " div 86400000000"
            )
        ).alias("rec_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("mon_c"),
    )
    q = cust.agg(
        *[
            F.expr(f"percentile({m}, {p})").alias(f"{m}_q{i}")
            for m in ("rec_d", "freq", "mon_c")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    score = (
        lambda m: F.lit(1)
        + (F.col(m) > F.col(f"{m}_q1")).cast("int")
        + (F.col(m) > F.col(f"{m}_q2")).cast("int")
        + (F.col(m) > F.col(f"{m}_q3")).cast("int")
    )
    return (
        cust.crossJoin(F.broadcast(q))
        .select(
            score("rec_d").cast("bigint").alias("r_score"),
            score("freq").cast("bigint").alias("f_score"),
            score("mon_c").cast("bigint").alias("m_score"),
            "mon_c",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("mon_c").cast("bigint").alias("revenue_c"),
        )
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
    bench twin, and the df-capped escape valve (wave7's
    ``dedup_prefix_filter_capped``).  ``obs_cand``/``obs_common`` are
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


@query("dedup_prefix_filter", oracle=_PREFIX_ORACLE, wave=5)
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


_SESSION_GAP_MIN = 30
_TOP_SESSIONS = 20

_TOP_SESSIONS_ORACLE = f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                       - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                       > {_SESSION_GAP_MIN} * 60 * 1000000
                  OR LAG(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    s AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS session_id
      FROM o),
    agg AS (
      SELECT user_id, session_id,
             MIN(epoch_us(ts)) AS session_start_us,
             (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000
               AS duration_s,
             COUNT(*) AS n_events
      FROM s GROUP BY 1, 2),
    top AS (
      SELECT * FROM agg
      ORDER BY duration_s DESC, user_id, session_id
      LIMIT {_TOP_SESSIONS})
    SELECT user_id, CAST(session_start_us AS BIGINT) AS session_start_us,
           CAST(duration_s AS BIGINT) AS duration_s,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(ROW_NUMBER() OVER
                (ORDER BY duration_s DESC, user_id, session_id)
                AS BIGINT) AS rk
    FROM top
"""


@query("events_top_sessions", oracle=_TOP_SESSIONS_ORACLE, wave=5)
def events_top_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level rollup + top-k: sessionize per user (30-min gap
    rule, same as ``events_sessionization``), aggregate each session
    to (start, duration, event count), and keep the ``_TOP_SESSIONS``
    longest sessions — the power-user/abuse view a product team reads
    daily, and the session-LEVEL twin of the existing event-level
    sessionization.

    Scale shape: gap flags and session ids are per-user windows; the
    session rollup shuffles on (user_id, session_id); the top-k plans
    as distributed TakeOrderedAndProject with the rank window over
    the 20 survivors.  Durations in exact integer seconds from
    epoch-µs.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            gap.isNull() | (gap > _SESSION_GAP_MIN * 60 * 1000000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    s = o.withColumn(
        "session_id",
        F.sum("is_new").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    agg = s.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros(F.col("ts"))).alias("session_start_us"),
        (
            (F.max(F.unix_micros(F.col("ts"))) - F.min(F.unix_micros(F.col("ts"))))
            / F.lit(1000000)
        )
        .cast("bigint")
        .alias("duration_s"),
        F.count(F.lit(1)).alias("n_events"),
    )
    top = agg.orderBy(
        F.desc("duration_s"), F.asc("user_id"), F.asc("session_id")
    ).limit(_TOP_SESSIONS)
    wr = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("duration_s"), F.asc("user_id"), F.asc("session_id")
    )
    return top.select(
        "user_id",
        F.col("session_start_us").cast("bigint").alias("session_start_us"),
        F.col("duration_s").cast("bigint").alias("duration_s"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.row_number().over(wr).cast("bigint").alias("rk"),
    )


_SHIP_DELAY_ORACLE = """
    WITH d AS (
      SELECT o.o_orderpriority,
             (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // 86400000000 AS delay_d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(delay_d) AS BIGINT) AS min_d,
           CAST(MAX(delay_d) AS BIGINT) AS max_d,
           CAST(quantile_cont(delay_d * 2, 0.5) AS BIGINT) AS med_d2,
           CAST(SUM(delay_d) AS BIGINT) AS sum_d
    FROM d GROUP BY o_orderpriority
"""


@query("shipping_delay_profile", oracle=_SHIP_DELAY_ORACLE, wave=5)
def shipping_delay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay profile per priority class: count, min/max,
    exact median (doubled to stay integral under interpolation), and
    total delay days — the SLA read behind ``q12``'s speed buckets,
    computed from exact integer day arithmetic on epoch-µs (calendar
    datediff counts boundary crossings and is engine-dependent;
    integer floor-division is not).

    Scale shape: fact-fact equi-join on the order key (the bucketed
    layout from ``bucketed_join_no_shuffle`` makes it exchange-free
    when materialized), then a 5-key rollup with an exact grouped
    median — swap ``percentile_approx`` at the point the per-key row
    count outgrows a partition.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.expr(
            "(unix_micros(cast(l_shipdate as timestamp))"
            " - unix_micros(cast(o_orderdate as timestamp)))"
            " div 86400000000"
        ).alias("delay_d"),
    )
    return d.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("delay_d").cast("bigint").alias("min_d"),
        F.max("delay_d").cast("bigint").alias("max_d"),
        F.expr("CAST(percentile(delay_d * 2, 0.5) AS BIGINT)").alias(
            "med_d2"
        ),
        F.sum("delay_d").cast("bigint").alias("sum_d"),
    )
