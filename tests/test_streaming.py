"""Streaming correctness = batch equivalence.

Chunk the events fixture into several parquet files, run each windowed
aggregation as a stream (availableNow, multiple micro-batches) into a
memory sink, and assert the result equals running the same aggregation
over the same data as one batch DataFrame.  This is the standard
correctness contract for Structured Streaming operators: the streaming
plan must converge to the batch answer once the watermark passes.
"""

from __future__ import annotations

import pandas as pd
import pytest

from awsbatch_mapreduce_spark.sources.tables import load_table
from awsbatch_mapreduce_spark.streaming import (
    dedup_events_stream,
    enrich_events_with_customer,
    read_events_stream,
    session_aggregate,
    sliding_aggregate,
    tumbling_aggregate,
    user_engagement_batch,
    user_engagement_stateful,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_chunks(spark, tmp_path_factory):
    """Events fixture split into 4 *time-ordered* parquet chunk files.

    Chunks must arrive in event-time order: the watermark advances to
    max(ts) - delay after each micro-batch, and rows older than the
    watermark are dropped before stateful aggregation — randomly-ordered
    chunks would (correctly) lose most of their rows as late data.
    Files are written with increasing mtimes because the file source
    processes files in modification-time order.
    """
    import time as _time

    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("events_stream")
    table = pq.read_table(f"{SF_DIR}/events.parquet")
    table = table.sort_by("ts")
    n = table.num_rows
    for i in range(4):
        chunk = table.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4)
        pq.write_table(chunk, str(out / f"chunk-{i}.parquet"))
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order
    return str(out)


def _run_stream(spark, agg_df, name: str) -> pd.DataFrame:
    q = (
        agg_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    q.stop()
    return out


def _assert_frames_equal(stream_pdf: pd.DataFrame, batch_pdf: pd.DataFrame):
    cols = sorted(stream_pdf.columns)
    assert cols == sorted(batch_pdf.columns)
    a = stream_pdf[cols].sort_values(by=cols, ignore_index=True)
    b = batch_pdf[cols].sort_values(by=cols, ignore_index=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


@pytest.mark.parametrize(
    "agg_fn,name",
    [
        (tumbling_aggregate, "tumbling_sink"),
        (sliding_aggregate, "sliding_sink"),
        (session_aggregate, "session_sink"),
    ],
)
def test_stream_equals_batch(spark, events_chunks, agg_fn, name):
    stream_in = read_events_stream(spark, events_chunks)
    stream_out = _run_stream(spark, agg_fn(stream_in), name)

    batch_in = load_table(spark, SF_DIR, "events")
    batch_out = agg_fn(batch_in).toPandas()

    assert len(stream_out) > 0
    _assert_frames_equal(stream_out, batch_out)


def test_stream_multiple_batches(spark, events_chunks):
    """The file source really produces several micro-batches (not one)."""
    stream_in = read_events_stream(spark, events_chunks)
    q = (
        tumbling_aggregate(stream_in)
        .writeStream.format("memory")
        .queryName("batchcount_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len(q.recentProgress)
    q.stop()
    assert n_batches >= 4, f"expected >=4 micro-batches, saw {n_batches}"


def test_stateful_engagement_equals_batch(spark, events_chunks):
    """applyInPandasWithState across multiple micro-batches converges to
    the batch fold: final per-user snapshot (max cumulative n_events in
    update-mode output) == one-pass batch computation."""
    stream_in = read_events_stream(spark, events_chunks)
    q = (
        user_engagement_stateful(stream_in)
        .writeStream.format("memory")
        .queryName("stateful_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    updates = spark.sql("SELECT * FROM stateful_sink").toPandas()
    q.stop()
    # update mode emits one snapshot per (user, touched micro-batch);
    # n_events is cumulative, so the final snapshot has the max
    final = (
        updates.sort_values("n_events")
        .groupby("user_id", as_index=False)
        .last()
    )
    batch = user_engagement_batch(load_table(spark, SF_DIR, "events")).toPandas()
    assert len(updates) > len(final), "expected multiple updates per user"
    _assert_frames_equal(final, batch)


def test_stream_static_enrichment_equals_batch(spark, events_chunks):
    """Stream-static broadcast join: enriching the event stream with
    the customer dimension must produce exactly the batch join's rows
    (left join keeps profile-less events with NULL attributes)."""
    dim = load_table(spark, SF_DIR, "customer")
    stream_in = read_events_stream(spark, events_chunks)
    stream_out = _run_stream_append(
        spark, enrich_events_with_customer(stream_in, dim), "enrich_sink"
    )
    batch_out = enrich_events_with_customer(
        load_table(spark, SF_DIR, "events"), dim
    ).toPandas()
    assert len(stream_out) == len(batch_out) > 0
    _assert_frames_equal(stream_out, batch_out)


def _run_stream_append(spark, df, name: str) -> pd.DataFrame:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    q.stop()
    return out


def test_stream_stream_interval_join_equals_batch(spark, events_chunks):
    """Stream-stream interval join: click->purchase pairs within one
    hour must match the batch join over the same rows.  Inner interval
    joins emit eagerly per micro-batch; the watermark only bounds
    buffered state, so availableNow drains to exactly the batch answer.
    """
    from awsbatch_mapreduce_spark.streaming import click_purchase_interval_join

    s1 = read_events_stream(spark, events_chunks)
    s2 = read_events_stream(spark, events_chunks)
    stream_out = _run_stream_append(
        spark, click_purchase_interval_join(s1, s2), "ssjoin_sink"
    )
    ev = load_table(spark, SF_DIR, "events")
    batch_out = click_purchase_interval_join(ev, ev).toPandas()
    assert len(stream_out) == len(batch_out) > 0
    _assert_frames_equal(stream_out, batch_out)


def test_foreachbatch_upsert_latest_per_key(spark, events_chunks, tmp_path):
    """foreachBatch keyed upsert: after draining the stream, the target
    parquet table must hold exactly the latest event per user — the
    same rows a single batch keep-latest computes.  Re-running the
    merge over the final table (idempotence) must not change it."""
    from awsbatch_mapreduce_spark.streaming import (
        foreach_batch_upsert,
        latest_per_key,
    )

    target = str(tmp_path / "latest_events")
    merge = foreach_batch_upsert(target)
    q = (
        read_events_stream(spark, events_chunks)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(target)
    expected = latest_per_key(load_table(spark, SF_DIR, "events"))
    _assert_frames_equal(got.toPandas(), expected.toPandas())
    # idempotence: merging the table's own rows again is a no-op
    merge(got, batch_id=999)
    _assert_frames_equal(
        spark.read.parquet(target).toPandas(), expected.toPandas()
    )


def test_stream_dedup_drops_redelivered_rows(spark, tmp_path):
    """At-least-once delivery: each chunk replays the tail of the
    previous one (the redelivery pattern of producer retries and file
    replays).  dropDuplicatesWithinWatermark must emit every distinct
    event exactly once — stream output == batch distinct over the
    physical (duplicated) input, == the original fixture."""
    import time as _time

    import pyarrow.parquet as pq

    table = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    n = table.num_rows
    src = tmp_path / "dedup_src"
    src.mkdir()
    overlap = n // 20
    for i in range(4):
        lo, hi = i * n // 4, (i + 1) * n // 4
        # replay `overlap` rows from the previous chunk in front
        replay_lo = max(lo - overlap, 0)
        pq.write_table(
            table.slice(replay_lo, hi - replay_lo),
            str(src / f"chunk-{i}.parquet"),
        )
        _time.sleep(1.1)

    stream_in = read_events_stream(spark, str(src))
    q = (
        dedup_events_stream(stream_in)
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM dedup_sink").toPandas()
    q.stop()

    physical_rows = sum(
        pq.read_table(str(p)).num_rows for p in src.glob("*.parquet")
    )
    assert physical_rows > n, "fixture setup failed to inject duplicates"
    assert len(out) == n, f"stream emitted {len(out)} rows, want {n}"
    assert out["event_id"].is_unique
    batch_ids = set(
        load_table(spark, SF_DIR, "events").select("event_id").toPandas()["event_id"]
    )
    assert set(out["event_id"]) == batch_ids


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """Native parquet file sink + checkpoint: stopping after the first
    chunk and restarting with the same checkpoint must append only the
    new chunks — the sink's transaction log makes output exactly-once,
    no row lost, no row doubled."""
    import shutil
    import time as _time

    import pyarrow.parquet as pq

    table = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    n = table.num_rows
    stage, src = tmp_path / "stage", tmp_path / "src"
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    stage.mkdir(), src.mkdir()
    chunks = []
    for i in range(3):
        p = stage / f"chunk-{i}.parquet"
        pq.write_table(table.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3), str(p))
        chunks.append(p)

    def run_once():
        q = (
            read_events_stream(spark, str(src))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    shutil.copy(chunks[0], src / chunks[0].name)
    run_once()
    for p in chunks[1:]:
        shutil.copy(p, src / p.name)
        _time.sleep(1.1)
    run_once()

    got = spark.read.parquet(str(out))
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_stateful_checkpoint_recovery(spark, tmp_path):
    """Stop/restart with a checkpoint: the restarted query must resume
    from persisted state — consuming only new files, keeping old
    accumulator values.  Failure modes this catches: re-processing old
    chunks (inflated counts) or losing state (undercounted gaps)."""
    import shutil
    import time as _time

    import pyarrow.parquet as pq

    table = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    n = table.num_rows
    chunks = []
    stage = tmp_path / "stage"
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    stage.mkdir(), src.mkdir(), out.mkdir()
    for i in range(4):
        p = stage / f"chunk-{i}.parquet"
        pq.write_table(table.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4), str(p))
        chunks.append(p)

    def run_once() -> None:
        stream = user_engagement_stateful(
            read_events_stream(spark, str(src))
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(out))

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    # phase 1: first two chunks
    for p in chunks[:2]:
        shutil.copy(p, src / p.name)
        _time.sleep(1.1)
    run_once()
    # phase 2: remaining chunks, SAME checkpoint -> resume, not replay
    for p in chunks[2:]:
        shutil.copy(p, src / p.name)
        _time.sleep(1.1)
    run_once()

    updates = spark.read.parquet(str(out)).toPandas()
    final = updates.sort_values("n_events").groupby("user_id", as_index=False).last()
    batch = user_engagement_batch(load_table(spark, SF_DIR, "events")).toPandas()
    _assert_frames_equal(final, batch)
