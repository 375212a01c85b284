"""Analytics surface extensions: time-series gap-fill, ordered string
aggregation, arg-extremes (max_by/min_by), outlier gating, and
fixed-size document chunking for training-data prep.

These widen the engine-parity surface past the reference (whose only
aggregation is the 2-D bin count, ``src/awsbatch-map/main.py:76-77``)
with shapes every production pipeline needs: densifying a sparse
series against a generated spine, deterministic list aggregation,
argmax-style selection without a self-join, sigma-based anomaly
gating, and exploding documents into bounded token windows (the unit
of work for LLM tokenization downstream).

Scale notes per query in the docstrings; the common theme is that
generated spines (hour slots, chunk indexes) are tiny or per-row
bounded, so nothing here materializes beyond the fact table's own
cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.functions.rounding import (
    dround,
    dround_sql,
    fixed_point_avg,
    fixed_point_avg_sql,
    fixed_point_sum,
    fixed_point_sum_sql,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table


@query(
    "events_hourly_gapfill",
    oracle="""
        WITH b AS (
          SELECT date_trunc('hour', MIN(ts)) AS hmin,
                 date_trunc('hour', MAX(ts)) AS hmax
          FROM events),
        slots AS (
          SELECT UNNEST(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS hour_ts
          FROM b),
        types AS (SELECT DISTINCT event_type FROM events),
        hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hour_ts,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT t.event_type, epoch_us(s.hour_ts) AS hour_ts_us,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events
        FROM slots s
        CROSS JOIN types t
        LEFT JOIN hourly h
          ON h.event_type = t.event_type AND h.hour_ts = s.hour_ts
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type with zero-filled gaps.

    The spine is generated with ``sequence(min_hour, max_hour, interval
    1 hour)`` from a 1-row aggregate — #hours x #types rows total
    (tiny, broadcast side), left-joined against the sparse hourly
    rollup.  At 100 TB the rollup is the only large operand and it
    shuffles once on (type, hour); the spine stays driver-small no
    matter the data volume because it scales with the *time range*.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("hmin"),
        F.date_trunc("hour", F.max("ts")).alias("hmax"),
    )
    slots = bounds.select(
        F.explode(F.expr("sequence(hmin, hmax, interval 1 hour)")).alias("hour_ts")
    )
    types = ev.select("event_type").distinct()
    return (
        slots.crossJoin(F.broadcast(types))
        .join(hourly, ["event_type", "hour_ts"], "left")
        .select(
            "event_type",
            # epoch_us output: raw timestamp columns materialize with
            # different pandas units per engine (repo convention)
            F.unix_micros("hour_ts").alias("hour_ts_us"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@query(
    "nation_segment_listagg",
    oracle="""
        SELECT n.n_name,
               COUNT(*) AS n_customers,
               string_agg(DISTINCT c.c_mktsegment, ','
                          ORDER BY c.c_mktsegment) AS segments
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    """,
)
def nation_segment_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg surface): the
    sorted distinct market segments served per nation.

    ``collect_set`` -> ``array_sort`` -> ``array_join`` is the
    deterministic Spark form — the set dedups executor-side, the sort
    canonicalizes the nondeterministic collection order, so the result
    is partitioning-independent (safe under the cross-engine hash).
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments"),
        )
    )


@query(
    "nation_customer_extremes",
    oracle=f"""
        SELECT n.n_name,
               arg_max(c.c_custkey,
                       CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) * 100000
                       + c.c_custkey) AS richest_custkey,
               arg_min(c.c_custkey,
                       CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) * 100000
                       + c.c_custkey) AS poorest_custkey,
               {dround_sql('MAX(c.c_acctbal)', 2)} AS max_bal,
               {dround_sql('MIN(c.c_acctbal)', 2)} AS min_bal
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    """,
)
def nation_customer_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (arg-extreme) surface: richest and poorest
    customer per nation in one grouped pass — no self-join, no window.

    The ordering key packs (cents, custkey) into one exact int64 so
    balance ties resolve by custkey identically in both engines;
    max_by on a float key with ties would be engine-dependent.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    key = (
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
        * F.lit(100000)
        + F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.max_by("c_custkey", key).alias("richest_custkey"),
            F.min_by("c_custkey", key).alias("poorest_custkey"),
            dround(F.max("c_acctbal"), 2).alias("max_bal"),
            dround(F.min("c_acctbal"), 2).alias("min_bal"),
        )
    )


@query(
    "events_zscore_outliers",
    oracle=f"""
        WITH stats AS (
          SELECT event_type,
                 {dround_sql('AVG(value) + 3 * STDDEV_SAMP(value)', 6)} AS hi
          FROM events GROUP BY event_type)
        SELECT e.event_type,
               COUNT(*) AS n,
               COUNT(*) FILTER (WHERE e.value > s.hi) AS n_outliers,
               {dround_sql('MAX(e.value)', 4)} AS max_value,
               s.hi AS threshold
        FROM events e JOIN stats s ON s.event_type = e.event_type
        GROUP BY e.event_type, s.hi
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sigma-based anomaly gate: per event type, how many values exceed
    mean + 3 sigma (two-pass: tiny stats aggregate broadcast back onto
    the stream).

    The threshold rounds at 6dp before comparison so both engines gate
    on the identical constant; the value distribution is O(100) wide so
    a 1e-6 grid cannot flip a verdict except exactly at the boundary.
    At scale this is the standard "aggregate, broadcast, re-scan"
    pattern — no window over the full stream.
    """
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        dround(F.avg("value") + 3 * F.stddev_samp("value"), 6).alias("hi")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("value") > F.col("hi")).alias("n_outliers"),
            dround(F.max("value"), 4).alias("max_value"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            "max_value",
            F.col("hi").alias("threshold"),
        )
    )


@query(
    "unpivot_status_metrics",
    oracle=f"""
        WITH agg AS (
          SELECT o_orderstatus,
                 CAST(COUNT(*) AS DOUBLE) AS n_orders,
                 {dround_sql(
                     'SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))'
                     ' / 100.0', 2)} AS sum_price,
                 {dround_sql(
                     'SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))'
                     ' * 1.0 / (100.0 * COUNT(*))', 2)} AS avg_price
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS metric_value
        FROM agg
        UNION ALL
        SELECT o_orderstatus, 'sum_price', sum_price FROM agg
        UNION ALL
        SELECT o_orderstatus, 'avg_price', avg_price FROM agg
    """,
)
def unpivot_status_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) surface: a wide per-status aggregate turned into
    (status, metric, value) long form via ``stack`` — the inverse of
    the pivot query, and the standard shape for metric stores.

    The melt happens on the 3-row aggregate, not the fact table, so it
    is free at any scale; money sums are fixed-point for the hash gate.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    )
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dround(cents / 100.0, 2).alias("sum_price"),
        dround(cents * 1.0 / (100.0 * F.count(F.lit(1))), 2).alias("avg_price"),
    )
    return agg.select(
        "o_orderstatus",
        F.expr(
            "stack(3, 'n_orders', n_orders, 'sum_price', sum_price,"
            " 'avg_price', avg_price) AS (metric, metric_value)"
        ),
    )


@query(
    "customer_value_deciles",
    oracle=f"""
        WITH ranked AS (
          SELECT c_acctbal,
                 NTILE(10) OVER (
                   ORDER BY CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT),
                            c_custkey) AS decile
          FROM customer)
        SELECT CAST(decile AS BIGINT) AS decile,
               COUNT(*) AS n_customers,
               {dround_sql('MIN(c_acctbal)', 2)} AS min_bal,
               {dround_sql('MAX(c_acctbal)', 2)} AS max_bal
        FROM ranked GROUP BY decile
    """,
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile (equal-frequency bucket) analysis over customer balances:
    exact NTILE(10) semantics with an exact integer ordering key
    (cents, custkey) so bucket boundaries are engine-independent, then
    per-decile stats.

    Scale shape (VERDICT r2 #3): a literal unpartitioned NTILE is a
    single-reducer sort over the whole table.  Here the global rank is
    two-level instead: (1) ``percentile_approx`` cut-points over the
    cents key split the table into ~32 contiguous value bands (the
    sketch aggregate is partial+final over tiny digests — the only
    single-partition exchange is that scalar merge); (2) row_number
    windows *partitioned by band*; (3) per-band counts meet in a
    broadcast triangle join giving each band's rank offset.
    global_rank = offset + rank_in_band is identical to the oracle's
    single NTILE ordering because bands are contiguous ranges of the
    ordering key (equal keys always share a band).  The decile is then
    the closed-form NTILE bucket from (rank, n): the first n%10
    buckets take n/10+1 rows, the rest n/10 — exact tie-out with the
    oracle, no approximation anywhere in the output.
    """
    from pyspark.sql.window import Window as W

    c = load_table(spark, sf_dir, "customer")
    key = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    t = c.select("c_acctbal", "c_custkey", key.alias("k"))
    # ~32 contiguous bands; cut accuracy only affects balance, never
    # the result (ranks are exact within and across bands)
    cuts = t.agg(
        F.percentile_approx(
            "k", [i / 32.0 for i in range(1, 32)], 10000
        ).alias("cuts")
    )
    banded = (
        t.crossJoin(F.broadcast(cuts))
        .withColumn(
            "band",
            F.aggregate(
                "cuts",
                F.lit(0),
                lambda acc, cp: acc + (F.col("k") > cp).cast("int"),
            ),
        )
        .drop("cuts")
    )
    wb = W.partitionBy("band").orderBy(F.asc("k"), F.asc("c_custkey"))
    ranked = banded.withColumn("rk", F.row_number().over(wb))
    counts = banded.groupBy("band").agg(F.count(F.lit(1)).alias("bn"))
    prior = counts.select(F.col("band").alias("pb"), F.col("bn").alias("pn"))
    offsets = (
        counts.join(F.broadcast(prior), F.col("pb") < F.col("band"), "left")
        .groupBy("band")
        .agg(F.coalesce(F.sum("pn"), F.lit(0)).alias("off"))
    )
    total = banded.agg(F.count(F.lit(1)).alias("n"))
    deciled = (
        ranked.join(F.broadcast(offsets), "band")
        .crossJoin(F.broadcast(total))
        .withColumn("grank", F.col("off") + F.col("rk"))
        # NTILE(10) closed form: q=n div 10 rows per tail bucket, the
        # first r=n%10 buckets take q+1; ceil(a/b) == (a+b-1) div b.
        # greatest(q,1) guards n<10 (branch then never taken).
        .withColumn(
            "decile",
            F.expr(
                "CAST(CASE WHEN grank <= (n % 10) * (n div 10 + 1)"
                " THEN (grank + n div 10) div (n div 10 + 1)"
                " ELSE n % 10 + (grank - (n % 10) * (n div 10 + 1)"
                "      + greatest(n div 10, 1) - 1) div greatest(n div 10, 1)"
                " END AS BIGINT)"
            ),
        )
    )
    return deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dround(F.min("c_acctbal"), 2).alias("min_bal"),
        dround(F.max("c_acctbal"), 2).alias("max_bal"),
    )


@query(
    "orders_above_customer_avg",
    oracle="""
        SELECT o.o_custkey AS c_custkey, COUNT(*) AS n_above
        FROM orders o
        WHERE o.o_totalprice > (
          SELECT SUM(CAST(FLOOR(o2.o_totalprice * 100 + 0.5) AS BIGINT))
                 * 1.0 / (100.0 * COUNT(*))
          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o.o_custkey
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery shape: orders priced above their own
    customer's average order value, counted per customer.

    The oracle keeps the literal correlated form; the Spark plan
    decorrelates it to a window aggregate over o_custkey — one shuffle,
    no re-scan, which is exactly what Catalyst's subquery decorrelation
    would emit.  The per-customer average is exact integer cents, so
    the comparison is engine-stable.
    """
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    ).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return (
        o.withColumn("cust_avg", cents * 1.0 / (100.0 * cnt))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


@query(
    "interval_join_click_purchase",
    oracle="""
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               epoch_us(c.ts) AS click_us,
               epoch_us(p.ts) AS purchase_us,
               epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
        FROM events c
        JOIN events p
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) >= epoch_us(c.ts)
         AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
    """,
)
def interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (two-sided range) join: every purchase within one hour
    after each click, per user — the batch twin of the stream-stream
    join in ``streaming/join.py`` (same function, batch inputs).

    Timestamps compare as epoch microseconds so both engines evaluate
    the identical integers (the fixture's ``ts`` is ``timestamp[us]``,
    which Spark and DuckDB's ``epoch_us`` both read unchanged).
    """
    from awsbatch_mapreduce_spark.streaming.join import (
        click_purchase_interval_join,
    )

    ev = load_table(spark, sf_dir, "events")
    joined = click_purchase_interval_join(ev, ev)
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "delay_us"
        ),
    )


@query(
    "events_hourly_unique_users",
    oracle="""
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_ts_us,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1
    """,
)
def events_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hour: the time-windowed COUNT(DISTINCT)
    every activity dashboard runs.

    Spark expands it to a two-phase aggregate (dedup on
    (hour, user), then count) — both phases get map-side partials.
    At 100 TB with high-cardinality keys the swap is one word:
    ``approx_count_distinct`` (HLL, mergeable sketch), which drops the
    oracle to rows-only; the exact form stays hash-gated here.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_ts_us")
    ).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "price_histogram_width_bucket",
    oracle="""
        SELECT CASE WHEN l_extendedprice < 0.0 THEN 0
                    WHEN l_extendedprice >= 100000.0 THEN 21
                    ELSE CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) + 1
               END AS bucket,
               COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY bucket
    """,
)
def price_histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D equi-width histogram via the SQL-standard ``width_bucket``
    (the scalar sibling of the flagship 2-D floor-bin rasterization,
    SURVEY.md §2.3 A1 / src/awsbatch-map/main.py:76-77).

    DuckDB has no ``width_bucket``, so the oracle states the exact
    arithmetic Spark's WidthBucket expression evaluates (bucket width
    100000/20 = 5000.0 is an exact double, so FLOOR(x/5000)+1 is
    bit-identical to the builtin).  Fixed bucket edges make the binning
    a pure codegen scalar — the aggregate is a ~22-key hash rollup with
    map-side partials, the cheapest possible full-scan summary at any
    scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.expr("width_bucket(l_extendedprice, 0.0D, 100000.0D, 20)")
            .cast("bigint")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "json_malformed_handling",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE NOT json_valid(
                 substr(props, 1, length(props) - 1))) AS n_malformed,
               COUNT(*) FILTER (WHERE json_valid(props)) AS n_valid,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                 AS BIGINT) AS k_total
        FROM events
    """,
)
def json_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSON robustness: ``from_json`` must yield NULLs (not
    fail) on a corrupted payload — counted against a deliberately
    broken copy of each payload (final brace truncated; a trailing
    extra token would NOT do, Jackson stops at the first complete
    value) — while the intact payload parses and aggregates.  In
    PERMISSIVE mode a malformed row comes back as a struct of NULL
    fields (not a NULL struct), so the detector tests the field.

    This is the PERMISSIVE-parse contract a pipeline relies on when
    1-in-a-million events are garbage: the job completes and the bad
    rows are countable, not fatal (the reference's manifest reader
    instead hard-raises on malformed input, main.py:26-30).
    """
    ev = load_table(spark, sf_dir, "events")
    parsed_ok = F.from_json("props", "k BIGINT")
    parsed_bad = F.from_json(
        F.expr("substr(props, 1, length(props) - 1)"), "k BIGINT"
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(parsed_bad["k"].isNull()).alias("n_malformed"),
        F.count_if(parsed_ok["k"].isNotNull()).alias("n_valid"),
        F.sum(parsed_ok["k"]).alias("k_total"),
    )


@query(
    "decimal_exact_revenue",
    oracle="""
        SELECT o_orderstatus,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
                 AS total_revenue,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
    """,
)
def decimal_exact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-typed aggregation surface: money cast to DECIMAL(18,2)
    sums exactly (no float accumulation-order drift), then casts to
    double once for output.

    The engine-native alternative to the fixed-point-int64 helpers for
    the same determinism guarantee — SURVEY.md §1.2 notes the
    reference never touches decimals; a query engine must.  Spark
    plans decimal sums as UnscaledValue long arithmetic inside
    codegen, so the exactness is nearly free.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "monthly_revenue_mom_change",
    oracle=f"""
        WITH monthly AS (
          SELECT date_trunc('month', o_orderdate) AS month,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_fp
          FROM orders GROUP BY 1)
        SELECT strftime(month, '%Y-%m') AS month,
               {dround_sql('rev_fp / 100.0', 2)} AS revenue,
               {dround_sql(
                   '(rev_fp - LAG(rev_fp) OVER (ORDER BY month)) / 100.0',
                   2)} AS mom_change,
               {dround_sql(
                   '(rev_fp - LAG(rev_fp) OVER (ORDER BY month)) * 1.0'
                   ' / LAG(rev_fp) OVER (ORDER BY month)', 6)} AS mom_pct
        FROM monthly
    """,
)
def monthly_revenue_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: monthly revenue with LAG deltas and
    percent change (NULL on the first month, as LAG defines).

    The fact table aggregates once into ~84 month rows; the LAG window
    runs on that tiny series, so the unpartitioned ordering costs
    nothing at any scale.  Deltas subtract exact integer cents.
    """
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev_fp")
    )
    w = W.partitionBy(F.lit(0)).orderBy("month")
    prev = F.lag("rev_fp").over(w)
    return monthly.select(
        # string month output (repo convention: no raw timestamp columns
        # cross the comparator — pandas units differ per engine)
        F.date_format("month", "yyyy-MM").alias("month"),
        dround(F.col("rev_fp") / 100.0, 2).alias("revenue"),
        dround((F.col("rev_fp") - prev) / 100.0, 2).alias("mom_change"),
        dround((F.col("rev_fp") - prev) * 1.0 / prev, 6).alias("mom_pct"),
    )


@query(
    "customer_pareto_abc",
    oracle=f"""
        WITH rev AS (
          SELECT o_custkey,
                 SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_fp
          FROM orders GROUP BY o_custkey),
        c AS (
          SELECT rev_fp,
                 SUM(rev_fp) OVER (ORDER BY rev_fp DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_fp,
                 SUM(rev_fp) OVER () AS total_fp
          FROM rev),
        k AS (
          SELECT CASE WHEN cum_fp * 1.0 <= total_fp * 0.5 THEN 'A'
                      WHEN cum_fp * 1.0 <= total_fp * 0.8 THEN 'B'
                      ELSE 'C' END AS abc_class,
                 rev_fp
          FROM c)
        SELECT abc_class,
               COUNT(*) AS n_customers,
               {dround_sql('SUM(rev_fp) / 100.0', 2)} AS class_revenue
        FROM k GROUP BY abc_class
    """,
)
def customer_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC segmentation: customers ranked by lifetime revenue,
    classed A (first 50% of revenue), B (to 80%), C (tail) via a
    cumulative share over the ranked aggregate.

    Scale shape (VERDICT r2 #4): customers are fact-proportional in
    TPC-H, so an unpartitioned cumulative window over the per-customer
    rollup funnels the whole rollup through one partition at 100x.
    The cumsum is two-level instead (the ``token_budget_threshold``
    pattern): (1) ``percentile_approx`` cut-points over rev_fp split
    the rollup into ~32 contiguous revenue bands; (2) the running sum
    windows *partitioned by band* (ordered rev DESC, custkey); (3)
    per-band revenue totals meet in a broadcast triangle join giving
    each band's prefix offset, and the corpus total is a broadcast
    scalar.  cum_fp = offset + in-band running sum is identical to the
    oracle's single unpartitioned window because bands are contiguous
    ranges of the DESC ordering (equal rev_fp always shares a band).
    All comparisons stay exact integer cents, so the A/B/C class edges
    are engine-identical.
    """
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev_fp")
    )
    cuts = rev.agg(
        F.percentile_approx(
            "rev_fp", [i / 32.0 for i in range(1, 32)], 10000
        ).alias("cuts")
    )
    # band 0 = highest revenue (count of cut-points >= rev_fp): a
    # monotone function of rev_fp alone, so ties share a band and
    # bands are contiguous runs of the DESC global order
    banded = (
        rev.crossJoin(F.broadcast(cuts))
        .withColumn(
            "band",
            F.aggregate(
                "cuts",
                F.lit(0),
                lambda acc, cp: acc + (F.col("rev_fp") <= cp).cast("int"),
            ),
        )
        .drop("cuts")
    )
    per_band = banded.groupBy("band").agg(F.sum("rev_fp").alias("band_rev"))
    hi = per_band.select(
        F.col("band").alias("pb"), F.col("band_rev").alias("pn")
    )
    offsets = (
        per_band.join(F.broadcast(hi), F.col("pb") < F.col("band"), "left")
        .groupBy("band")
        .agg(F.coalesce(F.sum("pn"), F.lit(0)).alias("band_offset"))
    )
    total = rev.agg(F.sum("rev_fp").alias("total_fp"))
    w_cum = (
        W.partitionBy("band")
        .orderBy(F.desc("rev_fp"), F.asc("o_custkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = (
        banded.join(F.broadcast(offsets), "band")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "cum_fp", F.sum("rev_fp").over(w_cum) + F.col("band_offset")
        )
    )
    k = c.select(
        "rev_fp",
        F.when(F.col("cum_fp") * 1.0 <= F.col("total_fp") * 0.5, "A")
        .when(F.col("cum_fp") * 1.0 <= F.col("total_fp") * 0.8, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return k.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dround(F.sum("rev_fp") / 100.0, 2).alias("class_revenue"),
    )


@query(
    "events_fill_forward",
    oracle=f"""
        WITH m AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                 CASE WHEN event_type = 'error' THEN NULL ELSE value END
                   AS v
          FROM events)
        SELECT event_id, user_id, ts_us,
               {dround_sql(
                   "COALESCE(LAST_VALUE(v IGNORE NULLS) OVER ("
                   "PARTITION BY user_id ORDER BY ts_us, event_id "
                   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0)",
                   4)} AS value_filled
        FROM m
    """,
)
def events_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill imputation (LOCF): error events carry no usable
    value, so each takes the user's most recent non-error value —
    ``last(..., ignorenulls=True)`` over an ordered per-user frame.

    One shuffle on user_id; the frame is running (no full-partition
    buffering).  Leading errors with no prior value fill with -1 so
    the output is total.
    """
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return m.select(
        "event_id",
        "user_id",
        "ts_us",
        dround(
            F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(-1.0)), 4
        ).alias("value_filled"),
    )


@query(
    "shuffle_hash_priority_revenue",
    oracle=f"""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_lines,
               {dround_sql(
                   'SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)'
                   ' * 10000.0 + 0.5) AS BIGINT)) / 10000.0', 2)} AS revenue
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def shuffle_hash_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-hash join strategy surface: revenue per order priority
    through an explicitly SHUFFLE_HASH-hinted fact-fact join.

    When both sides are too big to broadcast but one partition's build
    side fits in memory, shuffle-hash beats sort-merge by skipping both
    sorts — the right call for this orders-lineitem shape at 100 TB
    with AQE guarding against skewed builds.  The plan test pins
    ``ShuffledHashJoin`` so the hint survives refactors.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    rev_fp = F.sum(
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0
            + F.lit(0.5)
        ).cast("bigint")
    )
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dround(rev_fp / 10000.0, 2).alias("revenue"),
        )
    )


@query(
    "doc_chunk_windows",
    oracle="""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_id,
               array_to_string(toks[i * 25 + 1 : i * 25 + 25], ' ')
                 AS chunk_text,
               CAST(LEAST(25, len(toks) - i * 25) AS BIGINT) AS n_tokens
        FROM t, UNNEST(range(CAST(CEIL(len(toks) / 25.0) AS BIGINT))) AS u(i)
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token-window chunking: split each document into
    25-token chunks (the unit LLM pipelines tokenize/pack downstream).

    All array ops are JVM-side higher-order functions — no Python UDF:
    ``split`` -> ``transform(sequence(...))`` builds the chunk array,
    ``posexplode`` emits (chunk_id, chunk_text).  Work per row is
    bounded by that row's own token count, so the operator is
    embarrassingly parallel and scales linearly; no shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(toks) / F.lit(25.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.array_join(F.slice(toks, i * 25 + 1, 25), " "),
    )
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_toks"),
            F.posexplode(chunks).alias("pos", "chunk_text"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("chunk_id"),
            "chunk_text",
            F.least(F.lit(25), F.col("n_toks") - F.col("pos") * 25)
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


@query(
    "events_rolling_7d_active_users",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ), days AS (SELECT DISTINCT day FROM pairs)
        SELECT strftime(d.day, '%Y-%m-%d') AS day,
               COUNT(DISTINCT p.user_id) AS wau_7d,
               COUNT(DISTINCT CASE WHEN p.day = d.day THEN p.user_id END)
                   AS dau
        FROM days d
        JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    """,
)
def events_rolling_7d_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day distinct active users (WAU) plus same-day DAU per
    calendar day — the stickiness metric every activity dashboard pairs
    with ``events_hourly_unique_users``.

    Rolling COUNT(DISTINCT) over a date range is not window-expressible
    in Spark, and the naive form is a range join (days x user-days with
    a BETWEEN predicate -> nested-loop).  Instead each distinct
    (user, day) pair is exploded onto the <=7 future days it keeps the
    user "active" for (``sequence(day, day+6)``), turning the range
    join into a plain hash aggregate with map-side partials — a fixed
    7x fan-out of the *deduplicated* pairs, not of raw events.  The
    left-semi join against the observed-day spine (broadcast: one row
    per calendar day, tiny at any scale) trims phantom trailing days.
    At 100 TB the pre-aggregation to distinct pairs is the load-bearing
    step: the explode and final aggregate see per-user-day rows, orders
    of magnitude smaller than the event stream.
    """
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.to_date("ts").alias("active_day"), "user_id"
    ).distinct()
    days = pairs.select(F.col("active_day").alias("day")).distinct()
    contrib = pairs.select(
        F.explode(
            F.sequence(F.col("active_day"), F.date_add("active_day", 6))
        ).alias("day"),
        "active_day",
        "user_id",
    )
    return (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(
            F.count_distinct("user_id").alias("wau_7d"),
            F.count_distinct(
                F.when(F.col("active_day") == F.col("day"), F.col("user_id"))
            ).alias("dau"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"), "wau_7d", "dau"
        )
    )


@query(
    "orders_weekday_seasonality",
    oracle=f"""
        SELECT CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INT)
                   AS weekday,
               COUNT(*) AS n_orders,
               {fixed_point_sum_sql('o_totalprice', 2, 2)} AS total_revenue
        FROM orders
        GROUP BY 1
    """,
)
def orders_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume and revenue by day of week — the seasonality
    feature every demand model starts from.

    Day-of-week numbering crosses engines as ISO-Monday=0: Spark's
    ``weekday()`` is already 0=Monday, DuckDB's ``isodow`` is
    1=Monday so the oracle subtracts one (plain ``dayofweek`` starts
    on Sunday in Spark and 0-bases in DuckDB — a silent off-by-one
    trap).  A 7-key hash aggregate: map-side partials reduce each
    scan task to seven rows, so the shuffle is bytes regardless of
    scale; revenue uses the int64 fixed-point sum for
    order-independent cross-engine equality.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.weekday("o_orderdate").alias("weekday")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        fixed_point_sum("o_totalprice", 2, 2).alias("total_revenue"),
    )


_WINSOR_ORACLE = f"""
    WITH pct AS (
      SELECT event_type,
             FLOOR(quantile_cont(value, 0.05) * 10000.0 + 0.5) / 10000.0
               AS lo,
             FLOOR(quantile_cont(value, 0.95) * 10000.0 + 0.5) / 10000.0
               AS hi
      FROM events GROUP BY event_type),
    cl AS (
      SELECT e.event_type,
             LEAST(GREATEST(e.value, p.lo), p.hi) AS v,
             CASE WHEN e.value < p.lo THEN 1 ELSE 0 END AS is_lo,
             CASE WHEN e.value > p.hi THEN 1 ELSE 0 END AS is_hi
      FROM events e JOIN pct p USING (event_type))
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(is_lo) AS BIGINT) AS n_clamped_low,
           CAST(SUM(is_hi) AS BIGINT) AS n_clamped_high,
           {fixed_point_avg_sql('v', 4, 4)} AS winsorized_mean
    FROM cl GROUP BY event_type
"""


@query("events_winsorized_stats", oracle=_WINSOR_ORACLE)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (P05/P95-clamped) robust mean per event type — the
    outlier-tolerant aggregate a metrics pipeline uses where a single
    corrupt reading would skew a plain mean.

    Scale shape: the per-group percentile table is ONE grouped
    aggregate over a bounded key domain (5 event types), then
    BROADCAST back onto the stream — never a global window.  Exact
    interpolated percentiles keep the oracle checkable; at 100 TB swap
    ``percentile_approx`` into the same plan.  Clamp comparisons run
    on 4dp-rounded bounds so both engines clamp identical row sets;
    the clamped mean uses the fixed-point order-independent form.
    """
    ev = load_table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        dround(F.expr("percentile(value, 0.05)"), 4).alias("lo"),
        dround(F.expr("percentile(value, 0.95)"), 4).alias("hi"),
    )
    cl = ev.join(F.broadcast(pct), "event_type").select(
        "event_type",
        F.least(F.greatest("value", F.col("lo")), F.col("hi")).alias("v"),
        F.when(F.col("value") < F.col("lo"), 1).otherwise(0).alias("is_lo"),
        F.when(F.col("value") > F.col("hi"), 1).otherwise(0).alias("is_hi"),
    )
    return cl.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("is_lo").cast("bigint").alias("n_clamped_low"),
        F.sum("is_hi").cast("bigint").alias("n_clamped_high"),
        fixed_point_avg("v", 4, 4).alias("winsorized_mean"),
    )
