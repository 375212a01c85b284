"""Summary statistics (A2-A4): count / mean / min / max over columns.

The reference prints these per-month for eyeball verification
(``src/awsbatch-map/local.py:23,33-37,50-58``).  Here they are a single
``agg`` — one partial+final aggregation pass, no driver loop, and all
columns' stats computed in the same job (the reference made one pandas
call per stat).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.functions.rounding import (
    fixed_point_avg,
    fixed_point_avg_sql,
)

# decimal places of every reported mean
_MEAN_DP = 4


def summary_stats(df: DataFrame, decimals: dict[str, int]) -> DataFrame:
    """One-row frame: ``n_rows`` plus ``{c}_mean/{c}_min/{c}_max`` per
    column ``c`` of ``decimals``, which maps each column to its data's
    fixed-point decimal count.  Means accumulate as exact fixed-point
    integers, so they are independent of aggregation order (see
    ``functions.rounding``), and round to ``_MEAN_DP`` places.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, dp in decimals.items():
        aggs.append(fixed_point_avg(c, dp, _MEAN_DP).alias(f"{c}_mean"))
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.agg(*aggs)


def summary_stats_sql(table_expr: str, decimals: dict[str, int]) -> str:
    """DuckDB-oracle twin of :func:`summary_stats`."""
    parts = ["COUNT(*) AS n_rows"]
    for c, dp in decimals.items():
        parts.append(f"{fixed_point_avg_sql(c, dp, _MEAN_DP)} AS {c}_mean")
        parts.append(f"MIN({c}) AS {c}_min")
        parts.append(f"MAX({c}) AS {c}_max")
    return f"SELECT {', '.join(parts)} FROM {table_expr}"
