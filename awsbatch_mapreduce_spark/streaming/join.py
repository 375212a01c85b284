"""Stream-stream interval join: click events joined to the purchase
events that follow them within a bounded delay.

The canonical two-stream correlation (ad attribution, request/response
pairing).  Both sides carry a watermark and the join condition bounds
``purchase.ts`` to ``[click.ts, click.ts + _MAX_DELAY]``, which lets
Spark expire buffered rows: click state older than
``watermark + _MAX_DELAY`` and purchase state older than the watermark
are dropped, so state is O(window x rate), not unbounded.

The same function works on batch DataFrames (``withWatermark`` is a
no-op in batch), which is how the oracle-gated registry twin
(``plans/analytics_extra.py:interval_join_click_purchase``) and the
stream==batch equivalence test share one implementation.

Scale: the join shuffles both streams on user_id once; inner interval
joins emit eagerly (no watermark wait on output), so latency is one
micro-batch.  The reference has no streaming at all (SURVEY.md §2.6) —
this is engine-parity surface for the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.streaming.windows import EVENTS_WATERMARK

# longest click -> purchase delay that still counts as attributed
_MAX_DELAY = "1 hour"


def click_purchase_interval_join(
    events_a: DataFrame, events_b: DataFrame
) -> DataFrame:
    """All (click, purchase) pairs per user with the purchase at most
    ``_MAX_DELAY`` after the click.

    ``events_a``/``events_b`` are two reads of the same feed (or two
    feeds) — filtered here so each side buffers only its own type.
    """
    clicks = (
        events_a.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", EVENTS_WATERMARK)
    )
    purchases = (
        events_b.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", EVENTS_WATERMARK)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"interval {_MAX_DELAY}")),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
