"""Adapted TPC-H queries (Q10/Q14/Q15/Q17/Q18/Q19/Q22 shapes) plus a
statistical profile — widening the relational surface past what the
reference computes (SURVEY.md §2.5-2.6 call for full query-engine
parity; the fixtures omit partsupp and commit/receipt dates, so the
affected queries are re-cut to the available columns).

Every aggregate uses the fixed-point forms from ``functions.rounding``
so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.functions.rounding import (
    dround,
    dround_sql,
    fixed_point_sum,
    fixed_point_sum_sql,
)
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

fps = fixed_point_sum_sql


@query(
    "q10_returned_revenue",
    oracle=f"""
        WITH rev AS (
          SELECT c.c_custkey, c.c_name, n.n_name,
                 {fps('l.l_extendedprice * (1 - l.l_discount)', 4, 2)} AS revenue
          FROM customer c
          JOIN orders o ON o.o_custkey = c.c_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          WHERE l.l_returnflag = 'R'
          GROUP BY c.c_custkey, c.c_name, n.n_name)
        SELECT c_custkey, c_name, n_name, revenue,
               CAST(rk AS BIGINT) AS rk
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS rk
              FROM rev)
        WHERE rk <= 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top 20 customers by revenue on returned items.

    nation (25 rows) broadcasts; customer/orders/lineitem shuffle on
    their join keys; the top-20 is a distributed TakeOrderedAndProject
    over the per-customer aggregate — only the 20 survivors ever pass
    through a single partition for rank assignment (the per-customer
    rollup is customer-cardinality, far too big for a global window at
    100x).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            fixed_point_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, 2
            ).alias("revenue")
        )
    )
    top = rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return top.withColumn("rk", F.row_number().over(w).cast("bigint"))


@query(
    "q14_type_revenue_share",
    oracle=f"""
        WITH t AS (
          SELECT p.p_type,
                 {fps('l.l_extendedprice * (1 - l.l_discount)', 4, 2)} AS revenue
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          GROUP BY p.p_type)
        SELECT p_type, revenue,
               {dround_sql('revenue / (SELECT SUM(revenue) FROM t)', 6)} AS share
        FROM t
    """,
)
def q14_type_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: each part type's share of total revenue.

    The global total is a scalar — computed with a window over the
    6-row aggregate, not a second scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    t = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            fixed_point_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, 2
            ).alias("revenue")
        )
    )
    total = Window.partitionBy()
    return t.select(
        "p_type",
        "revenue",
        dround(F.col("revenue") / F.sum("revenue").over(total), 6).alias("share"),
    )


@query(
    "q15_top_supplier",
    oracle=f"""
        WITH rev AS (
          SELECT l_suppkey AS s_suppkey,
                 {fps('l_extendedprice * (1 - l_discount)', 4, 2)} AS total_revenue
          FROM lineitem GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM rev r JOIN supplier s ON s.s_suppkey = r.s_suppkey
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving max revenue.

    The scalar-subquery max becomes a one-row global max broadcast
    back onto the per-supplier rollup (never an unpartitioned window,
    which funnels the supplier-sized rollup through one partition).
    Revenue is fixed-point so 'equals max' is exact, not float-fuzzy.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        fixed_point_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("mx")
    )
    return top.join(s, "s_suppkey").select("s_suppkey", "s_name", "total_revenue")


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
        WITH pavg AS (
          SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_threshold
          FROM lineitem GROUP BY l_partkey)
        SELECT COUNT(*) AS n_lines,
               {fps('l.l_extendedprice', 2, 2)} AS total_price,
               {dround_sql(fps('l.l_extendedprice', 2, 2) + ' / 7.0', 2)} AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#13'
        JOIN pavg a ON a.l_partkey = l.l_partkey
        WHERE l.l_quantity < a.qty_threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in small-quantity orders of one
    brand (correlated avg-quantity subquery, decorrelated to a join).

    Quantities are integer-valued doubles, so AVG sums exactly in any
    order — the 0.2*avg threshold is bit-identical across engines
    without fixed-point quantization.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    pavg = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    total = fixed_point_sum("l_extendedprice", 2, 2)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pavg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            total.alias("total_price"),
            dround(total / F.lit(7.0), 2).alias("avg_yearly"),
        )
    )


@query(
    "q18_large_orders",
    oracle=f"""
        WITH big AS (
          SELECT l_orderkey, {dround_sql('SUM(l_quantity)', 2)} AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 100)
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               {dround_sql('o.o_totalprice', 2)} AS total_price,
               b.sum_qty
        FROM big b
        JOIN orders o ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 100, with
    their customers (group-HAVING feeding a join).

    The HAVING aggregate runs before the joins, so only qualifying
    orderkeys (~10%) shuffle into the join — filter-early is the whole
    point of this shape at scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 100)
        .select("l_orderkey", dround(F.col("raw_qty"), 2).alias("sum_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            dround(F.col("o_totalprice"), 2).alias("total_price"),
            "sum_qty",
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
        SELECT COUNT(*) AS n_lines,
               {fps('l.l_extendedprice * (1 - l.l_discount)', 4, 2)} AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11
               AND p.p_size BETWEEN 1 AND 15)
           OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20
               AND p.p_size BETWEEN 1 AND 25)
           OR (p.p_brand = 'Brand#15' AND l.l_quantity BETWEEN 20 AND 30
               AND p.p_size BETWEEN 1 AND 35)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates across the join.

    Catalyst extracts the common ``p_brand IN (...)`` from the OR legs
    as a partial pushdown into the (broadcast) part scan; the residual
    disjunction evaluates post-join inside codegen.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    leg = lambda brand, qlo, qhi, slo, shi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("l_quantity").between(qlo, qhi)
        & F.col("p_size").between(slo, shi)
    )
    return j.filter(
        leg("Brand#12", 1, 11, 1, 15)
        | leg("Brand#23", 10, 20, 1, 25)
        | leg("Brand#15", 20, 30, 1, 35)
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        fixed_point_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, 2
        ).alias("revenue"),
    )


@query(
    "q22_wealthy_inactive_customers",
    oracle=f"""
        WITH cutoff AS (
          SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0)
        SELECT c.c_mktsegment,
               COUNT(*) AS n_custs,
               {fps('c.c_acctbal', 2, 2)} AS total_acctbal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg_bal FROM cutoff)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c.c_mktsegment
    """,
)
def q22_wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no urgent
    orders, by market segment (scalar subquery + anti join).

    The scalar average is computed once and broadcast as a literal-like
    1-row frame; the NOT EXISTS is a left-anti join on o_custkey.
    Integer-cent account balances sum exactly, so the > comparison is
    engine-stable without quantization.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            fixed_point_sum("c_acctbal", 2, 2).alias("total_acctbal"),
        )
    )


@query(
    "stats_numeric_profile",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS n,
               {dround_sql('CORR(l_quantity, l_extendedprice)', 4)} AS corr_qty_price,
               {dround_sql('STDDEV_SAMP(l_quantity)', 4)} AS stddev_qty,
               {dround_sql('quantile_cont(l_extendedprice, 0.5)', 2)} AS median_price,
               {dround_sql('quantile_cont(l_quantity, 0.9)', 2)} AS p90_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def stats_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: correlation, sample stddev, exact
    interpolated percentiles, grouped.

    Exact ``percentile`` (not approx) so the oracle matches; at 100 TB
    swap to ``percentile_approx`` and drop the oracle to rows-only —
    the operator shape (single grouped pass) is unchanged.  Quantity is
    integer-valued so its moments are exact; the corr of quantity vs
    price rounds at 4dp, far above both engines' co-moment error.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        dround(F.stddev_samp("l_quantity"), 4).alias("stddev_qty"),
        dround(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("median_price"),
        dround(F.expr("percentile(l_quantity, 0.9)"), 2).alias("p90_qty"),
    )


@query(
    "q7_nation_trade_volume",
    oracle=f"""
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               EXTRACT(YEAR FROM l.l_shipdate) AS ship_year,
               COUNT(*) AS n_lines,
               {fps('l.l_extendedprice * (1 - l.l_discount)', 4, 2)} AS revenue
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE cn.n_nationkey < 10 AND sn.n_nationkey < 10
          AND cn.n_name <> sn.n_name
        GROUP BY cn.n_name, sn.n_name, EXTRACT(YEAR FROM l.l_shipdate)
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume among the first ten
    nations by ship year — the same dimension (nation) joined in two roles.

    Both nation copies broadcast; the customer/supplier filters reduce
    the fact stream before the final aggregate.  Year extraction is a
    codegen scalar, so the group key costs nothing extra.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.filter(F.col("n_nationkey") < 10).select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    sn = n.filter(F.col("n_nationkey") < 10).select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cnk"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("snk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            fixed_point_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, 2
            ).alias("revenue"),
        )
    )


@query(
    "q8_market_share",
    oracle=f"""
        WITH all_rev AS (
          SELECT EXTRACT(YEAR FROM o.o_orderdate) AS order_year,
                 sn.n_name AS supp_nation,
                 SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                           * 10000.0 + 0.5) AS BIGINT)) AS rev_fp
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation sn ON sn.n_nationkey = s.s_nationkey
          GROUP BY 1, 2)
        SELECT order_year, supp_nation,
               {dround_sql('rev_fp / 10000.0', 2)} AS revenue,
               {dround_sql('rev_fp * 1.0 / SUM(rev_fp) OVER (PARTITION BY order_year)', 6)}
                 AS market_share
        FROM all_rev
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: each supplier nation's share of yearly revenue —
    grouped aggregate + windowed share over the (tiny) aggregate.

    The share denominator is integer fixed-point summed per year, so
    the ratio is bit-stable across engines and partitionings.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    rev_fp = F.sum(
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0 + F.lit(0.5)
        ).cast("bigint")
    )
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("snk"))
        .groupBy(F.year("o_orderdate").alias("order_year"), "supp_nation")
        .agg(rev_fp.alias("rev_fp"))
    )
    w = Window.partitionBy("order_year")
    return agg.select(
        "order_year",
        "supp_nation",
        dround(F.col("rev_fp") / 10000.0, 2).alias("revenue"),
        dround(F.col("rev_fp") * 1.0 / F.sum("rev_fp").over(w), 6).alias(
            "market_share"
        ),
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
        WITH per_cust AS (
          SELECT c.c_custkey,
                 COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o
            ON o.o_custkey = c.c_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
        SELECT CAST(c_count AS BIGINT) AS c_count,
               COUNT(*) AS custdist
        FROM per_cust
        GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts per customer.

    The fixtures carry no ``o_comment`` (TESTDATA.md), so the classic
    ``NOT LIKE '%special%requests%'`` exclusion becomes "exclude URGENT
    orders" — same left-outer + two-level aggregation shape.

    Scale: the left join shuffles on custkey; the second groupBy runs
    on a #customers-sized intermediate (tiny vs orders) and its key
    domain (distinct order counts) is tinier still — both aggregates
    get map-side partials for free.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy(F.col("c_count").cast("bigint").alias("c_count"))
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q4_order_priority_checking",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
)
def q4_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one late lineitem, counted
    by priority.

    The fixtures carry no ``l_commitdate``/``l_receiptdate``
    (TESTDATA.md), so "commit missed" becomes "shipped more than 60
    days after the order date" — preserving the correlated-EXISTS
    semi-join shape.

    Spark side: a LEFT SEMI join (one shuffle on orderkey, no
    duplicate-row blowup from multi-lineitem orders, build side never
    materializes non-matching rows) followed by a 5-group aggregate.
    The date filter prunes orders before the shuffle.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_SALTED_ORACLE = """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           FLOOR((SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                                 * 10000.0 + 0.5) AS BIGINT)) / 10000.0)
                 * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem l
    JOIN (SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_orderpriority = '1-URGENT') o
      ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
"""


@query("salted_join_priority_revenue", oracle=_SALTED_ORACLE)
def salted_join_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join under the oracle gate: lineitem joined to the
    urgent-orders dim through ``operators/skew.salted_join`` (8-way
    salting), then the usual priority revenue rollup.  The salt is
    placement-only, so the result is row-identical to the plain join —
    which is exactly what the oracle asserts (it runs the UNSALTED
    join).  This promotes the salting operator from unit-tested to
    driver-proven: the one code path trusted to rescue a pathological
    hot key at 100 TB now has a correctness row, not just a local test.
    """
    from awsbatch_mapreduce_spark.functions.rounding import fixed_point_sum
    from awsbatch_mapreduce_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
    )
    joined = salted_join(li, urgent, on="l_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        fixed_point_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, 2
        ).alias("revenue"),
    )


_SKEW_ORACLE = """
    WITH c AS (
      SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
    t AS (SELECT SUM(cnt) AS total FROM c),
    top AS (
      SELECT l_suppkey, cnt FROM c ORDER BY cnt DESC, l_suppkey LIMIT 20)
    SELECT l_suppkey,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_suppkey)
                AS BIGINT) AS rk
    FROM top, t
"""


@query("join_key_skew_profile", oracle=_SKEW_ORACLE)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of a join key (``lineitem.l_suppkey``):
    the 20 heaviest keys with row count and parts-per-million share of
    the table — the diagnostic read before choosing between a plain
    shuffle join, AQE skew splitting, and the explicit salted plan
    (``salted_join_priority_revenue``).  A key above ~1/partitions of
    the table is the one that will straggle.

    Scale shape: one map-side-partial count per key (shuffle bounded
    by the key domain), distributed TakeOrderedAndProject for the
    top-20, total as a broadcast scalar, rank window over the 20
    survivors only.  Deterministic key tie-break.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("l_suppkey")).limit(20)
    wr = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("cnt"), F.asc("l_suppkey")
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "l_suppkey",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr("CAST(cnt * 1000000 div total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .withColumn("rk", F.row_number().over(wr).cast("bigint"))
    )


_INC_CUTOFF = "1997-06-01"


_INC_MERGE_ORACLE = f"""
    SELECT o_orderpriority,
           FLOOR((SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  / 100.0) * 100.0 + 0.5) / 100.0 AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
"""


@query("incremental_agg_merge", oracle=_INC_MERGE_ORACLE)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: revenue per order priority
    computed as partial-state aggregates over a base segment
    (o_orderdate < 1997-06-01) and a delta segment (>=), merged by
    state addition — the materialized-view maintenance pattern where
    yesterday's state is stored and only the new partition is scanned.
    The oracle computes the direct single-pass aggregate, so the
    driver hash proves merge(partial(base), partial(delta)) == full
    recompute.

    Scale shape: each partial is a map-side-combined aggregate over a
    bounded key domain (5 priorities); the merge re-aggregates 2x5
    rows.  Exactness comes from integer-cent partial sums — float
    partials would make the merge order-dependent and the proof
    meaningless.  At 100 TB the base partial is a stored table and
    only the delta scan runs per refresh.
    """
    from awsbatch_mapreduce_spark.functions.rounding import dround

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.sum(cents).alias("cents_part"),
            F.count(F.lit(1)).alias("n_part"),
        )

    cut = F.lit(_INC_CUTOFF).cast("timestamp")
    base = partial(orders.filter(F.col("o_orderdate") < cut))
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cents_part").alias("cents_total"),
            F.sum("n_part").alias("n_orders"),
        )
    )
    return merged.select(
        "o_orderpriority",
        dround(F.col("cents_total") / 100.0, 2).alias("revenue"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
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


@query("nation_revenue_share", oracle=_NATION_SHARE_ORACLE)
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


@query("customer_rfm_segments", oracle=_RFM_ORACLE)
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


@query("shipping_delay_profile", oracle=_SHIP_DELAY_ORACLE)
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
