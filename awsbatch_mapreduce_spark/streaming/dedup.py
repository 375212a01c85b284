"""Streaming deduplication: exactly-once semantics on top of an
at-least-once source.

Real event feeds redeliver (producer retries, consumer rebalances,
file-source replays).  ``dropDuplicatesWithinWatermark`` keeps one row
per key while holding per-key state only until the watermark passes the
key's event time — bounded state, unlike plain ``dropDuplicates`` on a
stream, which retains every key forever and OOMs a 100 TB/day feed.

The reference has no streaming surface at all (SURVEY.md §2.6); this
extends the engine's Structured Streaming family (windows, sessions,
stateful engagement) with the ingestion-side dedup every production
pipeline puts first in the chain.

Scale: state is hash-partitioned on the dedup key (uniform ids -> no
skew); memory is bounded by (arrival rate x watermark delay), the delay
being ``streaming.windows.EVENTS_WATERMARK``.  Tests pin stream ==
batch-distinct on a chunked fixture with injected redelivery overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from awsbatch_mapreduce_spark.streaming.windows import EVENTS_WATERMARK


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Drop redelivered events by event_id, with watermark-bounded state.

    ``events`` must carry the event-time column ``ts`` (the fixture
    schema from ``read_events_stream``).  Duplicates arriving within
    ``EVENTS_WATERMARK`` of the original are suppressed; later ones are
    impossible by the source's ordering contract (a file source replay
    lands immediately; a Kafka redelivery is bounded by retention of
    the consumer group's in-flight window).
    """
    return events.withWatermark("ts", EVENTS_WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
