"""Full relational surface (SURVEY.md §7 Phase 2).

The reference has no joins/windows/set-ops (SURVEY.md §2.5-§2.6) — the
north star requires capability parity *as a query engine*, so this
module covers joins (broadcast + shuffle; inner/semi/anti), aggregation
(plain, distinct, rollup), window functions, sorts/top-k, set ops and
the scalar function library, each with a DuckDB oracle.

Determinism rules (so value hashes match the oracle):
- every double *aggregate* is ``round(...)``-ed (accumulation order
  differs between engines; per-row arithmetic is left raw),
- every LIMIT is preceded by a total order with a unique tie-break key,
- derived integers are cast to BIGINT (DuckDB's default width).

Scale notes: dimension joins (region/nation/supplier/customer-at-sf)
broadcast under the 64 MB threshold; fact-fact joins shuffle on the join
key and AQE handles skew.  Partial aggregation keeps shuffle volume
proportional to group cardinality, not row count.
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
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.operators.skew import two_phase_topk
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

# Short aliases used inside oracle f-strings.
fps = fixed_point_sum_sql
fpa = fixed_point_avg_sql


@query(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               FLOOR((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
               {fps('l_extendedprice', 2, 2)} AS sum_base_price,
               {fps('l_extendedprice * (1 - l_discount)', 4, 2)} AS sum_disc_price,
               {fps('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6, 2)} AS sum_charge,
               FLOOR((AVG(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
               {fpa('l_extendedprice', 2, 4)} AS avg_price,
               {fpa('l_discount', 2, 4)} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan -> filter -> hash agg.

    The predicate is on a raw column so it pushes into the parquet scan;
    group cardinality is 6, so the shuffle after partial agg is tiny at
    any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            fixed_point_sum("l_extendedprice", 2, 2).alias("sum_base_price"),
            fixed_point_sum(disc_price, 4, 2).alias("sum_disc_price"),
            fixed_point_sum(disc_price * (1 + F.col("l_tax")), 6, 2).alias("sum_charge"),
            dround(F.avg("l_quantity"), 4).alias("avg_qty"),
            fixed_point_avg("l_extendedprice", 2, 4).alias("avg_price"),
            fixed_point_avg("l_discount", 2, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
        SELECT l_orderkey,
               {fps('l_extendedprice * (1 - l_discount)', 4, 2)} AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: 3-way join -> agg -> deterministic top-10.

    customer is the small side (broadcast); orders/lineitem join
    shuffles on the order key.  Top-k orders by rounded revenue with
    ``l_orderkey`` tie-break so the LIMIT is engine-independent.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            fixed_point_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_nation_revenue",
    oracle=f"""
        SELECT n_name,
               {fps('l_extendedprice * (1 - l_discount)', 4, 2)} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 6-way join with dimension broadcasts.

    region/nation/supplier are broadcast (tiny at every scale factor);
    the lineitem-orders join is the only big shuffle.  AQE may convert
    the customer join to broadcast at low SF.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            fixed_point_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, 2
            ).alias("revenue")
        )
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
        SELECT {fps('l_extendedprice * l_discount', 4, 2)} AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.04 AND l_discount <= 0.06
          AND l_quantity < 25
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped selective scan: all predicates push to parquet."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 25)
    ).agg(
        fixed_point_sum(F.col("l_extendedprice") * F.col("l_discount"), 4, 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "top_customers",
    oracle=f"""
        SELECT c_custkey, c_name,
               {fps('o_totalprice', 2, 2)} AS total_spent,
               COUNT(*) AS n_orders
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
        ORDER BY total_spent DESC, c_custkey
        LIMIT 25
    """,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k aggregation (O1/O2 generalized): agg -> total order -> limit.

    Spark runs the limit as TakeOrderedAndProject — per-partition top-k
    then a k-row merge on the driver, no global sort materialization.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            fixed_point_sum("o_totalprice", 2, 2).alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("total_spent"), "c_custkey")
        .limit(25)
    )


# Shared with the two-phase salted top-k: both implementations must
# match this one oracle exactly — the equivalence proof that the
# skew-safe plan keeps per-key ranking semantics.
WINDOW_TOPK_ORACLE = """
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """


@query("window_top_orders_per_customer", oracle=WINDOW_TOPK_ORACLE)
def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function: top-3 orders per customer.

    One shuffle on the partition key; the per-partition sort is bounded.
    Unique ``o_orderkey`` tie-break makes row_number deterministic.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_running_revenue",
    oracle="""
        SELECT o_custkey, o_orderkey,
               FLOOR(((SUM(cents) OVER w_run) / 100.0) * 100.0 + 0.5) / 100.0
                   AS running_spent,
               FLOOR(((SUM(cents) OVER w_mov) / (100.0 * COUNT(cents) OVER w_mov)) * 10000.0 + 0.5) / 10000.0
                   AS moving_avg_3
        FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                     CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
              FROM orders)
        WINDOW w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window frames: running sum + 3-row moving average.

    ROWS frames (not RANGE) with a unique ordering key so both engines
    accumulate identical prefixes.
    """
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    w_mov = w.rowsBetween(-2, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        dround(F.sum("cents").over(w_run) / 100.0, 2).alias("running_spent"),
        dround(
            F.sum("cents").over(w_mov) / (100.0 * F.count("cents").over(w_mov)), 4
        ).alias("moving_avg_3"),
    )


@query(
    "rollup_region_nation",
    oracle=f"""
        SELECT COALESCE(r_name, 'ALL') AS region_name,
               COALESCE(n_name, 'ALL') AS nation_name,
               COUNT(*) AS n_customers,
               {fps('c_acctbal', 2, 2)} AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets via ROLLUP (§2.6 gap in the reference).

    Dimension joins broadcast; rollup adds subtotal rows engine-side
    (partial agg still applies per grouping set).
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            fixed_point_sum("c_acctbal", 2, 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_acctbal",
        )
    )


@query(
    "cube_status_priority",
    oracle=f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               {fps('o_totalprice', 2, 2)} AS total_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over order status x priority with subtotal coalescing."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fixed_point_sum("o_totalprice", 2, 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "except_custkeys",
    oracle="""
        SELECT o_custkey AS custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        EXCEPT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) set op: 1996 buyers who lapsed in 1997."""
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y96.subtract(y97)


@query(
    "intersect_custkeys",
    oracle="""
        SELECT o_custkey AS custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        INTERSECT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) set op: retained buyers."""
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y96.intersect(y97)


@query(
    "union_all_priority_counts",
    oracle="""
        SELECT src, COUNT(*) AS n FROM (
            SELECT 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT 'high' AS src FROM orders WHERE o_orderpriority = '2-HIGH'
        ) GROUP BY src
    """,
)
def union_all_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — the reference's implicit 24-month concat (§2.5)."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("src")
    )
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.lit("high").alias("src")
    )
    return urgent.unionAll(high).groupBy("src").agg(F.count(F.lit(1)).alias("n"))


@query(
    "anti_join_customers_without_orders",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS decorrelation is free in Catalyst)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "semi_join_customers_with_open_orders",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
)
def semi_join_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join with a pushed predicate on the probe side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "distinct_customers_per_status",
    oracle="""
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
    """,
)
def distinct_customers_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — expands to a two-phase agg in Spark."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "scalar_functions_showcase",
    oracle="""
        SELECT o_orderkey,
               upper(substr(o_orderpriority, 3)) AS priority_word,
               CAST(length(o_orderpriority) AS BIGINT) AS priority_len,
               strftime(o_orderdate, '%Y-%m') AS order_month,
               CAST(year(o_orderdate) AS BIGINT) AS order_year,
               FLOOR((o_totalprice * 1.1) * 100.0 + 0.5) / 100.0 AS taxed_price,
               CASE WHEN o_totalprice < 100000 THEN 'small'
                    WHEN o_totalprice < 300000 THEN 'medium'
                    ELSE 'large' END AS size_bucket
        FROM orders
        WHERE o_orderkey % 10 = 0
    """,
)
def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar library (P6/P10 generalized): string/date/math/case.

    All JVM-side built-ins inside one whole-stage-codegen span — the
    engine-native counterpart of the reference's per-row Python
    formatting (``main.py:84``, ``Implementation.cs:37,40``).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.upper(F.expr("substr(o_orderpriority, 3)")).alias("priority_word"),
        F.length("o_orderpriority").cast("bigint").alias("priority_len"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        dround(F.col("o_totalprice") * 1.1, 2).alias("taxed_price"),
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
        .alias("size_bucket"),
    )


@query(
    "orders_with_lineitem_stats",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               n_items, sum_qty,
               FLOOR((o_totalprice) * 100.0 + 0.5) / 100.0 AS total_price
        FROM orders
        JOIN (SELECT l_orderkey, COUNT(*) AS n_items,
                     FLOOR((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty
              FROM lineitem GROUP BY l_orderkey) li
          ON o_orderkey = l_orderkey
        WHERE n_items >= 5
    """,
)
def orders_with_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join against a pre-aggregated subquery (agg pushdown pattern).

    Aggregating lineitem *before* the join shrinks the shuffle from
    row-count to order-count — the at-scale-correct plan shape.
    """
    orders = load_table(spark, sf_dir, "orders")
    li_stats = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .filter(F.col("n_items") >= 5)
    )
    return orders.join(
        li_stats, orders.o_orderkey == li_stats.l_orderkey
    ).select(
        "o_orderkey",
        "o_orderstatus",
        "n_items",
        "sum_qty",
        dround("o_totalprice", 2).alias("total_price"),
    )


@query(
    "window_analytics_order_profile",
    oracle=f"""
        SELECT o_orderkey,
               o_custkey,
               first_value(o_totalprice) OVER wc AS first_order_price,
               last_value(o_totalprice) OVER wc_full AS last_order_price,
               CAST(ntile(4) OVER wp AS BIGINT) AS price_quartile,
               {dround_sql('percent_rank() OVER wp', 6)} AS price_pct_rank
        FROM orders
        WINDOW
          wc AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          wc_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
          wp AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_analytics_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining analytic-function surface in one pass: first_value /
    last_value (explicit full frame), ntile quartiles, percent_rank.

    Two window families -> two shuffles (custkey, priority); both key
    domains are uniform.  Every ordering carries o_orderkey as the tie
    break so ntile/percent_rank assignments are engine-independent.
    """
    o = load_table(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wc_full = wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wp = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(wc).alias("first_order_price"),
        F.last("o_totalprice").over(wc_full).alias("last_order_price"),
        F.ntile(4).over(wp).cast("bigint").alias("price_quartile"),
        dround(F.percent_rank().over(wp), 6).alias("price_pct_rank"),
    )


_HOUR_US = 3_600_000_000


@query(
    "events_trailing_hour_range_frame",
    oracle=f"""
        SELECT event_id, user_id,
               epoch_us(ts) AS ts_us,
               CAST(COUNT(*) OVER wr AS BIGINT) AS n_1h,
               {dround_sql('SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) OVER wr / 100.0', 2)}
                   AS sum_value_1h
        FROM events
        WINDOW wr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN {_HOUR_US} PRECEDING AND CURRENT ROW)
    """,
)
def events_trailing_hour_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame (RANGE BETWEEN interval PRECEDING):
    per-event trailing-1-hour activity count and value sum per user —
    the feature-engineering shape behind "events in the last hour"
    signals, distinct from ROWS frames (peers enter by *time distance*,
    not row position).

    One shuffle on user_id; frame state is bounded by events-per-hour.
    Values quantize to int cents before the frame sum, so the sliding
    accumulation is exact integer math — order-independent and
    hash-stable across engines.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_HOUR_US, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(wr).cast("bigint").alias("n_1h"),
        dround(F.sum("cents").over(wr) / 100.0, 2).alias("sum_value_1h"),
    )


@query("salted_topk_orders_per_customer", oracle=WINDOW_TOPK_ORACLE)
def salted_topk_orders_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 orders per customer via the two-phase salted ranking
    operator (``operators/skew.py:two_phase_topk``) — the skew-safe
    twin of ``window_top_orders_per_customer``, sharing its oracle so
    the driver proves the two plans return identical rows.

    Scale shape: phase 1 shuffles on (o_custkey, salt) — a customer
    holding 30% of all orders spreads over 16 buckets instead of one
    task's sort — and keeps <= k rows per bucket; phase 2's per-key
    partitions are bounded at 16*k = 48 rows by construction.  The
    skew rehearsal (SCALING.md round 7) measures both twins on the
    hot-customer tiling.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return two_phase_topk(
        orders,
        key="o_custkey",
        order_cols=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        salt_from="o_orderkey",
        n_salts=16,
    )
