"""Structured Streaming re-interpretation of the reference pipeline.

The reference animates per-month frames — a tumbling-window aggregation
over trip time rendered one frame per window (SURVEY.md §2.6, Phase 3):
month partitioning at ``Implementation.cs:16-28``, ordered frame concat
at ``Reduce.ps1:8``.  Here the same semantics run incrementally:
``readStream -> withWatermark -> window()/session_window() -> sink``,
with late data bounded by the watermark instead of by the static month
manifest.

The aggregation bodies are shared with the *batch* queries in
``plans.events`` conceptually; tests assert streaming(availableNow) ==
batch on the same input, which is Spark's own correctness contract for
these operators.  The DuckDB oracle gate covers the batch twins; the
streaming path gets the batch-equivalence check (driver records the
weaker rows-only check for anything not SQL-expressible).

Scale notes: watermark + windowed agg keeps state bounded by
(#windows-in-watermark x #groups); session windows additionally merge
per key — both shuffle once on the group key, same as batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.functions.rounding import dround, fixed_point_sum

# events.parquet has shipped with ts as TIMESTAMP(NANOS) (read nanos-as-
# long, rebuild micros — like sources.tables.load_table) and as plain
# TIMESTAMP(MICROS) (read as NTZ, cast to timestamp; session tz is UTC so
# the cast is value-preserving).  Streams need the schema up front, so we
# sniff one footer driver-side to pick the right DDL.
_EVENTS_DDL_NANOS = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
_EVENTS_DDL_MICROS = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

# how late an event may arrive, in event time, before its window's (or
# its dedup / join key's) state is dropped — shared by every events stream
EVENTS_WATERMARK = "2 hours"


def _events_ts_is_long(source_dir: str) -> bool:
    """True if the parquet files under ``source_dir`` carry a nanos ts
    (to be read as long).  One footer read on the driver — O(KB)."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(source_dir, "*.parquet")))
    if not files:
        # Guessing here would bind a schema that misreads ts the moment
        # differently-encoded files arrive (the driver has shipped BOTH
        # encodings across rounds) — make the caller seed the dir first.
        raise FileNotFoundError(
            f"no parquet files under {source_dir!r} to sniff the events ts "
            "encoding from; write at least one file before starting the "
            "stream"
        )
    t = str(pq.read_schema(files[0]).field("ts").type)
    # timestamp[ns] is read as long under nanosAsLong; int64 is already long
    return t == "int64" or t.startswith("timestamp[ns")


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over parquet chunks with the events schema,
    one file per micro-batch.

    ``source_dir`` holds one-or-more parquet files (tests chunk the
    fixture into several to get multiple micro-batches).  At production
    scale the same code points at an object-store prefix receiving
    files, or is swapped for a Kafka source — the downstream operators
    are source-agnostic.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanos = _events_ts_is_long(source_dir)
    raw = (
        spark.readStream.schema(_EVENTS_DDL_NANOS if nanos else _EVENTS_DDL_MICROS)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_aggregate(
    events: DataFrame, window: str = "1 hour", watermark: str = EVENTS_WATERMARK
) -> DataFrame:
    """Tumbling event-time windows per event_type.

    The streaming form of ``plans.events.events_tumbling_hourly`` (and
    of the reference's per-month frame aggregation).  Works identically
    on a batch DataFrame — tests rely on that equivalence.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum("value", 2, 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            F.unix_micros(F.col("win.end")).alias("window_end_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_aggregate(events: DataFrame) -> DataFrame:
    """Sliding (overlapping) event-time windows, global per window:
    1-hour windows every 30 minutes."""
    return (
        events.withWatermark("ts", EVENTS_WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # HLL, not exact distinct: streaming aggregation forbids
            # COUNT(DISTINCT); the sketch's max-merge is order-independent
            # so batch == stream still holds exactly.
            F.approx_count_distinct("user_id").alias("n_users"),
            dround(F.min("value"), 2).alias("min_value"),
            dround(F.max("value"), 2).alias("max_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "n_events",
            "n_users",
            "min_value",
            "max_value",
        )
    )


def session_aggregate(
    events: DataFrame, gap: str = "30 minutes", watermark: str = EVENTS_WATERMARK
) -> DataFrame:
    """Gap-based session windows per user (``session_window``).

    The engine-native streaming counterpart of
    ``plans.events.events_sessionization`` (which derives sessions with
    lag + running sum for the SQL oracle).  State is merged per user as
    events arrive; the watermark closes sessions.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
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
