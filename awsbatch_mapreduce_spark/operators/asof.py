"""As-of (point-in-time) join — an operator Spark lacks natively.

For each left row, attach the most recent right row of the same key with
``right.ts <= left.ts`` (backward as-of, the financial/attribution
standard; inclusive on ties like DuckDB's ``ASOF JOIN``).

Implemented as a *single-shuffle* composition of built-in operators: tag
both sides, union, then a per-key event-time ordered window carries the
latest right payload forward onto left rows (``last(..., ignorenulls)``
over ``rowsBetween(unboundedPreceding, currentRow)``).  This avoids the
naive alternatives that die at 100 TB:

- range cross-join + argmax: quadratic per key;
- correlated subquery per left row: re-scans right per row.

Both sides shuffle exactly once on the key, the window is a sort within
each hash partition, and state per key is one right payload — the same
plan shape a 1000-executor cluster wants.  Skewed keys can be salted by
the caller before entry; AQE handles moderate skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
) -> DataFrame:
    """Backward as-of join of ``left`` to ``right`` on key ``on``, event
    time ``ts``.

    Right rows must be unique per (key, ts) — pre-aggregate otherwise
    (ambiguous ties have no deterministic winner in any engine).  Right
    payload columns come back null where no right row precedes the left
    row.  Output = all left columns + right payload columns.
    """
    left_cols = [c for c in left.columns]
    right_payload = [c for c in right.columns if c not in (on, ts)]

    tagged_left = left.select(
        F.col(on).alias("__k"),
        F.col(ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.col(c) for c in left_cols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_payload],
    )
    tagged_right = right.select(
        F.col(on).alias("__k"),
        F.col(ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *[F.col(c).alias(f"__r_{c}") for c in right_payload],
    )
    # right (__is_left=0) sorts before left at equal ts -> inclusive match
    w = (
        Window.partitionBy("__k")
        .orderBy(F.asc("__t"), F.asc("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged_left.unionByName(tagged_right).select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__c_{c}")
            for c in right_payload
        ],
    )
    return carried.filter(F.col("__is_left") == 1).select(
        *[F.col(c) for c in left_cols],
        *[F.col(f"__c_{c}").alias(c) for c in right_payload],
    )
