"""Query registry: every implemented operator gets a named query over the
fixture tables plus (where SQL-expressible) a DuckDB oracle string.

Importing this package populates the registry; ``__spark_entry__.py``
exposes it to the driver's correctness harness.
"""

from awsbatch_mapreduce_spark.plans.registry import (
    QUERIES,
    QuerySpec,
    grading_order,
    query,
)

# Import for side effect: each module registers its queries.
from awsbatch_mapreduce_spark.plans import reference_parity  # noqa: F401
from awsbatch_mapreduce_spark.plans import relational  # noqa: F401
from awsbatch_mapreduce_spark.plans import events  # noqa: F401
from awsbatch_mapreduce_spark.plans import llm_text  # noqa: F401
from awsbatch_mapreduce_spark.plans import similarity  # noqa: F401
from awsbatch_mapreduce_spark.plans import multimodal_q  # noqa: F401
from awsbatch_mapreduce_spark.plans import temporal  # noqa: F401
from awsbatch_mapreduce_spark.plans import tpch_extra  # noqa: F401
from awsbatch_mapreduce_spark.plans import streaming_q  # noqa: F401
from awsbatch_mapreduce_spark.plans import drift_q  # noqa: F401
from awsbatch_mapreduce_spark.plans import manifest_io  # noqa: F401
from awsbatch_mapreduce_spark.plans import advanced_udf  # noqa: F401
from awsbatch_mapreduce_spark.plans import sql_surface  # noqa: F401
from awsbatch_mapreduce_spark.plans import iterative  # noqa: F401
from awsbatch_mapreduce_spark.plans import udtf_sketch  # noqa: F401
from awsbatch_mapreduce_spark.plans import quality  # noqa: F401
from awsbatch_mapreduce_spark.plans import sampling  # noqa: F401
from awsbatch_mapreduce_spark.plans import tpch_partsupp  # noqa: F401
from awsbatch_mapreduce_spark.plans import analytics_extra  # noqa: F401
from awsbatch_mapreduce_spark.plans import packing  # noqa: F401
from awsbatch_mapreduce_spark.plans import detectors  # noqa: F401
from awsbatch_mapreduce_spark.plans import web_entity  # noqa: F401
from awsbatch_mapreduce_spark.plans import catalog_ops  # noqa: F401
from awsbatch_mapreduce_spark.plans import pyramid_features  # noqa: F401
from awsbatch_mapreduce_spark.plans import wave3  # noqa: F401
from awsbatch_mapreduce_spark.plans import wave4  # noqa: F401
from awsbatch_mapreduce_spark.plans import wave5  # noqa: F401
from awsbatch_mapreduce_spark.plans import wave7  # noqa: F401
from awsbatch_mapreduce_spark.plans import wave8  # noqa: F401
from awsbatch_mapreduce_spark.plans import wave9  # noqa: F401
from awsbatch_mapreduce_spark.plans import wave10  # noqa: F401
from awsbatch_mapreduce_spark.plans import codebook_lifecycle  # noqa: F401
from awsbatch_mapreduce_spark.plans import lsh_gate  # noqa: F401

__all__ = ["QUERIES", "QuerySpec", "grading_order", "query"]
