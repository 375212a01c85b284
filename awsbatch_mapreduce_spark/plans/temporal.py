"""Temporal join queries over the events fixture: as-of join and
interval (range) join — the two time-series operators Spark has no
native keyword for, built as compositions (SURVEY.md §2.6 extension
surface; the reference's only temporal semantics is static month
partitioning at ``src/awsbatch-mapreduce/Implementation.cs:16-28``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from awsbatch_mapreduce_spark.operators.asof import asof_join
from awsbatch_mapreduce_spark.operators.hints import never_broadcast
from awsbatch_mapreduce_spark.plans.registry import query
from awsbatch_mapreduce_spark.sources.tables import load_table

_ASOF_ORACLE = """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purch AS (
      SELECT user_id, ts, MAX(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id,
           epoch_us(c.ts) AS ts_us,
           p.purchase_id,
           epoch_us(p.ts) AS purchase_ts_us
    FROM clicks c
    ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


@query("asof_join_purchase_attribution", oracle=_ASOF_ORACLE)
def asof_join_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution as-of join: each click event gets the same user's most
    recent purchase at-or-before the click (null if none yet).

    The right side is pre-aggregated to unique (user, ts) so ties have a
    deterministic winner; the operator itself is the single-shuffle
    union+window composition in ``operators.asof``.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
        .select("user_id", "ts", "purchase_id", F.col("ts").alias("purchase_ts"))
    )
    joined = asof_join(clicks, purch, on="user_id", ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "purchase_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


_RANGE_ORACLE = """
    WITH err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
    SELECT err.event_id, err.user_id, epoch_us(err.ts) AS ts_us,
           COUNT(a.event_id) AS n_nearby,
           CAST(COALESCE(SUM(CASE WHEN a.event_type = 'click' THEN 1 ELSE 0 END),
                         0) AS BIGINT)
             AS n_clicks
    FROM err
    LEFT JOIN events a
      ON a.user_id = err.user_id
     AND a.event_id <> err.event_id
     AND a.ts >= err.ts - INTERVAL 15 MINUTE
     AND a.ts <= err.ts + INTERVAL 15 MINUTE
    GROUP BY err.event_id, err.user_id, err.ts
"""


@query("range_join_error_context", oracle=_RANGE_ORACLE)
def range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: for every error event, how much same-user activity
    happened within +/-15 minutes (and how many were clicks).

    Plan shape: equi-join on user_id with the time band as a join-time
    range predicate — Spark hash-partitions both sides on the key and
    filters within partitions, so no quadratic blow-up; per-user event
    counts bound the worst case.  At 100 TB the key (user_id) carries the
    shuffle; a hot user is an AQE skew-split, not a plan change.
    """
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    act = ev.select("event_id", "user_id", "event_type", "ts")
    cond = (
        (F.col("user_id") == F.col("err_user"))
        & (F.col("event_id") != F.col("err_id"))
        & (F.col("ts") >= F.col("err_ts") - F.expr("INTERVAL 15 MINUTES"))
        & (F.col("ts") <= F.col("err_ts") + F.expr("INTERVAL 15 MINUTES"))
    )
    return (
        err.join(act, cond, "left")
        .groupBy("err_id", "err_user", "err_ts")
        .agg(
            F.count("event_id").alias("n_nearby"),
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)),
                F.lit(0),
            ).alias("n_clicks"),
        )
        .select(
            F.col("err_id").alias("event_id"),
            F.col("err_user").alias("user_id"),
            F.unix_micros("err_ts").alias("ts_us"),
            "n_nearby",
            "n_clicks",
        )
    )


@query(
    "scd2_user_value_intervals",
    oracle="""
        SELECT user_id,
               epoch_us(ts) AS valid_from_us,
               epoch_us(LEAD(ts) OVER w) AS valid_to_us,
               value AS tier_value,
               CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        FROM events
        WHERE event_type = 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each user's purchase value becomes a
    validity interval [valid_from, valid_to), open-ended for the
    current row — the standard point-in-time dimension a warehouse
    derives from a change feed (and the batch twin of what the as-of
    join consumes).

    One window over (user_id, ts): a single shuffle on user_id, state
    linear in events-per-user.  At 100 TB the same shape runs
    incrementally as the stateful streaming operator in
    ``streaming/stateful.py``; event_id breaks ordering ties so the
    intervals are deterministic under any partitioning.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        F.col("value").alias("tier_value"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


# Banded range join: 30-minute buckets; a purchase in bucket b can only
# match clicks in buckets {b, b-1}, so replicating each purchase twice
# turns the keyless range join into an equi-join on the bucket id.
_BAND_US = 30 * 60 * 1_000_000


_BANDED_RANGE_ORACLE = """
    SELECT c.event_id,
           CAST(COUNT(p.event_id) AS BIGINT) AS n_purchases_30m
    FROM events c LEFT JOIN events p
      ON p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    GROUP BY c.event_id
"""


@query("range_join_banded_global", oracle=_BANDED_RANGE_ORACLE)
def range_join_banded_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join with NO equi-key: purchases within 30 minutes
    after each click, across ALL users.  ``range_join_error_context``
    rides its natural user_id key; when no such key exists the naive
    plan is a cartesian range filter — the classic rescue is banding:
    bucket time at the window width, replicate the probe side into the
    two buckets it can match (b, b-1), and the range join becomes an
    equi-join on the bucket id plus an in-partition filter.

    Scale shape: shuffle keys are bucket ints, volume = clicks +
    2 x purchases (linear, factor 2 is the replication), no broadcast
    requirement on either side — this is the plan that survives when
    BOTH sides are fact-scale.  Worst case per bucket is bounded by
    event rate x window, the quantity you'd size buckets by in
    production.  Zero-match clicks are restored by a left join against
    the aggregated matches (keys: event ids).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        F.col("ts").alias("c_ts"),
        F.floor(us / _BAND_US).cast("bigint").alias("cb"),
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("ts").alias("p_ts"),
            F.floor(us / _BAND_US).cast("bigint").alias("pb"),
        )
        .select(
            "p_ts",
            F.explode(
                F.array(F.col("pb"), F.col("pb") - F.lit(1))
            ).alias("cb"),
        )
    )
    # big-big by design: both event streams scale with data, so the
    # banded equi-join must never be broadcast (operators/hints.py)
    matched = (
        clicks.join(never_broadcast(purch), "cb")
        .filter(
            (F.col("p_ts") > F.col("c_ts"))
            & (
                F.col("p_ts")
                <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")
            )
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return clicks.select("event_id").join(matched, "event_id", "left").select(
        "event_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias(
            "n_purchases_30m"
        ),
    )
