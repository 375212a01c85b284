"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference map-stage shape:
project -> bbox filter -> 2-D bin-count, ``src/awsbatch-map/main.py:67-77``)
at sf0.001.  ``queries()``/``oracle_sql()`` expose the engine's full
registry (``awsbatch_mapreduce_spark.plans``) to the DuckDB correctness
harness.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from awsbatch_mapreduce_spark.plans import QUERIES, grading_order


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["frame_histogram2d"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered for the driver's capped grading window: never-graded
    queries first, then the stalest driver-green grades
    (``plans.registry.grading_order``).
    """
    return {name: QUERIES[name].builder for name in grading_order(QUERIES)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted -> rows-only check)."""
    return {
        name: QUERIES[name].oracle
        for name in grading_order(QUERIES)
        if QUERIES[name].oracle is not None
    }
