"""Reference-parity queries (SURVEY.md §2.1-§2.4) on the fixture tables.

The reference's map stage is: read parquet -> vectorized coordinate
transform (``src/awsbatch-map/main.py:67-72``) -> bounding-box filter
(``main.py:73-75``) -> 2-D bin-count rasterization (``main.py:76-77``)
-> ordered per-month frames (``main.py:84``, ``Reduce.ps1:8``).  The
taxi dataset isn't available offline, so these queries exercise the
identical operator shapes on ``lineitem``: an affine "projection" onto a
synthetic (x, y) plane stands in for the EPSG:4326->3857 reprojection
(same dataflow: derived columns feeding a derived-column predicate and a
binned aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.functions.rounding import (
    fixed_point_avg,
    fixed_point_avg_sql,
)

from awsbatch_mapreduce_spark.operators.histogram import histogram2d, histogram2d_sql
from awsbatch_mapreduce_spark.operators.stats import summary_stats, summary_stats_sql
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

# Synthetic "projection" of lineitem onto a plane: x = net price, y =
# quantity.  Same shape as main.py:67-72 (whole-column arithmetic
# producing dropoff_x/dropoff_y), but Catalyst-native -- no Python
# boundary needed because the transform is affine.
_X_EXPR = "l_extendedprice * (1.0 - l_discount)"
_Y_EXPR = "l_quantity"
# Stand-in for the Manhattan bbox (main.py:73-75).
_BBOX = {"xmin": 1000.0, "xmax": 50000.0, "ymin": 5.0, "ymax": 45.0}
_GRID_W, _GRID_H = 140, 100


def _projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_X_EXPR).alias("x"),
        F.col("l_quantity").alias("y"),
    )


@query(
    "frame_histogram2d",
    oracle=histogram2d_sql(
        f"(SELECT {_X_EXPR} AS x, {_Y_EXPR} AS y FROM lineitem)",
        "x",
        "y",
        x_range=(_BBOX["xmin"], _BBOX["xmax"]),
        y_range=(_BBOX["ymin"], _BBOX["ymax"]),
        width=_GRID_W,
        height=_GRID_H,
    ),
)
def frame_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: project -> bbox filter -> 2-D bin count (A1).

    Mirrors ``main.py:67-77`` (reproject, bbox, 1400x1000 rasterize) as
    one lazy Catalyst plan: scan -> project -> filter -> partial/final
    hash agg.  Shuffle volume is bounded by grid size, not input rows.
    """
    return histogram2d(
        _projected(spark, sf_dir),
        "x",
        "y",
        x_range=(_BBOX["xmin"], _BBOX["xmax"]),
        y_range=(_BBOX["ymin"], _BBOX["ymax"]),
        width=_GRID_W,
        height=_GRID_H,
    )


@query(
    "bbox_filter_project",
    oracle=f"""
        SELECT l_orderkey, l_linenumber, x, y
        FROM (SELECT l_orderkey, l_linenumber, {_X_EXPR} AS x, {_Y_EXPR} AS y
              FROM lineitem)
        WHERE x >= {_BBOX["xmin"]!r} AND x <= {_BBOX["xmax"]!r}
          AND y >= {_BBOX["ymin"]!r} AND y <= {_BBOX["ymax"]!r}
    """,
)
def bbox_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level projection + conjunctive range predicate (P1/P2/P4).

    Mirrors ``main.py:58-75``.  No rounding: per-row double arithmetic
    is order-independent, so values are bit-identical to the oracle.
    """
    df = _projected(spark, sf_dir)
    return df.filter(
        (F.col("x") >= _BBOX["xmin"])
        & (F.col("x") <= _BBOX["xmax"])
        & (F.col("y") >= _BBOX["ymin"])
        & (F.col("y") <= _BBOX["ymax"])
    )


@query(
    "bbox_summary_stats",
    oracle=summary_stats_sql(
        f"""(SELECT {_X_EXPR} AS x, {_Y_EXPR} AS y FROM lineitem
             WHERE {_X_EXPR} >= {_BBOX["xmin"]!r} AND {_X_EXPR} <= {_BBOX["xmax"]!r}
               AND {_Y_EXPR} >= {_BBOX["ymin"]!r} AND {_Y_EXPR} <= {_BBOX["ymax"]!r})""",
        ["x", "y"],
        data_decimals={"x": 4, "y": 0},
    ),
)
def bbox_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count/mean/min/max of the projected coords (A2-A4).

    Mirrors the eyeball stats of ``local.py:23,33-37,50-58`` as a single
    aggregation pass.
    """
    df = bbox_filter_project(spark, sf_dir).select("x", "y")
    return summary_stats(df, ["x", "y"], data_decimals={"x": 4, "y": 0})


@query(
    "month_manifest",
    oracle="""
        SELECT
            strftime(m, '%Y-%m') AS year_month,
            CAST(ROW_NUMBER() OVER (ORDER BY m) - 1 AS BIGINT) AS iteration,
            printf('output-iteration-%03d',
                   CAST(ROW_NUMBER() OVER (ORDER BY m) - 1 AS INT)) AS frame_name,
            concat('https://s3.amazonaws.com/nyc-tlc/trip+data/yellow_tripdata_',
                   strftime(m, '%Y-%m'), '.parquet') AS file_url
        FROM (SELECT CAST(gs.generate_series AS DATE) AS m
              FROM generate_series(DATE '2009-01-01', DATE '2010-12-01',
                                   INTERVAL 1 MONTH) gs)
    """,
)
def month_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-sequence manifest generator (P6/P7/P8).

    Replaces the driver-side ``LoadAllDates`` + URL template + manifest
    JSON of ``Implementation.cs:16-47`` and the enumerate at
    ``main.py:32-33``: ``sequence(... interval 1 month)`` + ``row_number``
    + ``format_string``.  ``sf_dir`` is unused — the manifest is derived,
    not scanned (24 rows; stays on one task).
    """
    months = spark.sql(
        """
        SELECT explode(sequence(to_date('2009-01-01'), to_date('2010-12-01'),
                                interval 1 month)) AS m
        """
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.lit(0)).orderBy("m")
    return (
        months.select(F.date_format("m", "yyyy-MM").alias("year_month"), "m")
        .withColumn("iteration", (F.row_number().over(w) - 1).cast("bigint"))
        .select(
            "year_month",
            "iteration",
            F.format_string("output-iteration-%03d", F.col("iteration").cast("int")).alias(
                "frame_name"
            ),
            F.concat(
                F.lit("https://s3.amazonaws.com/nyc-tlc/trip+data/yellow_tripdata_"),
                F.col("year_month"),
                F.lit(".parquet"),
            ).alias("file_url"),
        )
    )


@query(
    "monthly_frames_ordered",
    oracle=f"""
        SELECT
            strftime(mon, '%Y-%m') AS year_month,
            CAST(ROW_NUMBER() OVER (ORDER BY mon) - 1 AS BIGINT) AS iteration,
            n_points,
            mean_x
        FROM (
            SELECT date_trunc('month', l_shipdate) AS mon,
                   COUNT(*) AS n_points,
                   {fixed_point_avg_sql(_X_EXPR, 4, 4)} AS mean_x
            FROM lineitem
            WHERE {_X_EXPR} >= {_BBOX["xmin"]!r} AND {_X_EXPR} <= {_BBOX["xmax"]!r}
              AND {_Y_EXPR} >= {_BBOX["ymin"]!r} AND {_Y_EXPR} <= {_BBOX["ymax"]!r}
            GROUP BY 1
        )
        ORDER BY iteration
    """,
)
def monthly_frames_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month frame aggregates in strict iteration order (O2 + X1).

    The reference's reduce consumes frames strictly in ``%03d`` index
    order (``Reduce.ps1:8``; index from ``main.py:32-33,84``).  Here the
    month partition is a group key and the ordering is an ``orderBy`` —
    the engine-native form of the ordered-concat reduce.
    """
    from pyspark.sql.window import Window

    df = load_table(spark, sf_dir, "lineitem")
    x = F.expr(_X_EXPR)
    y = F.expr(_Y_EXPR)
    monthly = (
        df.filter(
            (x >= _BBOX["xmin"])
            & (x <= _BBOX["xmax"])
            & (y >= _BBOX["ymin"])
            & (y <= _BBOX["ymax"])
        )
        .groupBy(F.date_trunc("month", "l_shipdate").alias("mon"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            fixed_point_avg(x, 4, 4).alias("mean_x"),
        )
    )
    w = Window.partitionBy(F.lit(0)).orderBy("mon")
    return monthly.select(
        F.date_format("mon", "yyyy-MM").alias("year_month"),
        (F.row_number().over(w) - 1).cast("bigint").alias("iteration"),
        "n_points",
        "mean_x",
    ).orderBy("iteration")
