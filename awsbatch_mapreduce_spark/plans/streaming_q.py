"""Batch-mode twins of the native streaming window operators.

``plans.events`` covers tumbling (integer floor) and sessionization
(lag + running sum) in SQL-oracle-friendly form; here the *native*
Spark operators — ``F.window`` with a slide, and ``F.session_window`` —
run in batch mode under the driver's oracle gate, so the exact operator
used by ``streaming.windows`` is itself hash-checked (the streaming
path is additionally pinned to these semantics by the
stream==batch equivalence tests in ``tests/test_streaming.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.functions.rounding import dround, fixed_point_sum, fixed_point_sum_sql
from awsbatch_mapreduce_spark.plans.events import SESSION_GAP_US
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

_MIN30_US = 30 * 60 * 1_000_000
_HOUR_US = 2 * _MIN30_US

# An event at t falls into the 1h/30m sliding windows starting at
# floor30(t) and floor30(t) - 30min — enumerate exactly those two.
_SLIDING_ORACLE = f"""
    WITH hits AS (
      SELECT unnest([ (epoch_us(ts) // {_MIN30_US}) * {_MIN30_US},
                      (epoch_us(ts) // {_MIN30_US}) * {_MIN30_US} - {_MIN30_US} ])
               AS window_start_us,
             user_id, value
      FROM events)
    SELECT window_start_us,
           window_start_us + {_HOUR_US} AS window_end_us,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           FLOOR((MIN(value)) * 100.0 + 0.5) / 100.0 AS min_value,
           FLOOR((MAX(value)) * 100.0 + 0.5) / 100.0 AS max_value
    FROM hits
    GROUP BY window_start_us
"""


@query("events_sliding_windows", oracle=_SLIDING_ORACLE)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (1 hour / 30 min) event-time windows via native
    ``F.window`` — each event lands in exactly two overlapping windows.

    The planner expands the slide into a generator (one row per covered
    window) before the hash aggregate, so cost is events x overlap — the
    same shape at any scale, shuffling only the window key.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            dround(F.min("value"), 2).alias("min_value"),
            dround(F.max("value"), 2).alias("max_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            F.unix_micros(F.col("win.end")).alias("window_end_us"),
            "n_events",
            "n_users",
            "min_value",
            "max_value",
        )
    )


_SESSION_NATIVE_ORACLE = f"""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
               AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS is_new
      FROM t),
    sessioned AS (
      SELECT user_id, ts_us, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + {SESSION_GAP_US} AS session_end_us,
           COUNT(*) AS n_events,
           {fixed_point_sum_sql('value', 2, 2)} AS sum_value
    FROM sessioned
    GROUP BY user_id, sid
"""


@query("events_session_window_native", oracle=_SESSION_NATIVE_ORACLE)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap sessions via native ``F.session_window`` (30-min
    inactivity gap; session end = last event + gap, Spark's definition).

    This is the exact operator the streaming path uses
    (``streaming.windows.session_aggregate``); the oracle derives the
    same sessions with the lag + running-sum island construction.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum("value", 2, 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("session_start_us"),
            F.unix_micros(F.col("win.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


_ENGAGEMENT_ORACLE = """
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)) AS gap_us
      FROM events)
    SELECT user_id,
           COUNT(*) AS n_events,
           SUM(cents) / 100.0 AS total_value,
           CAST(COALESCE(MAX(gap_us), 0) AS BIGINT) AS max_gap_us
    FROM t
    GROUP BY user_id
"""


@query("user_engagement_profile", oracle=_ENGAGEMENT_ORACLE)
def user_engagement_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the custom stateful streaming operator
    (``streaming.stateful.user_engagement_stateful``): per-user event
    count, fixed-point value total, and max inactivity gap.

    The streaming path maintains this as O(1) state per user via
    ``applyInPandasWithState``; equivalence across micro-batches is
    pinned in ``tests/test_streaming.py``, and this query puts the
    shared semantics under the driver's oracle gate.
    """
    from awsbatch_mapreduce_spark.streaming.stateful import user_engagement_batch

    return user_engagement_batch(load_table(spark, sf_dir, "events"))
