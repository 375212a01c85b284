"""Streaming codebook-admission load test (round 13).

`streaming/codebook.py` is correctness-proven (stream==batch + the
compositional pin against the driver-proven registry queries); this
measures what it SUSTAINS: synthetic embeddings from the `rate`
source are driven through ``foreach_batch_codebook_admit_probe``
against a real persisted index built over the sf0.1 seen half, and
each micro-batch's progress is recorded — input vs processed
vectors/sec, batch duration, and the members-table growth across the
run (every batch both probes the grown index AND grows it, so the
per-batch cost CLIMBS as admitted history accumulates; the climb rate
is the number that tells an operator when the k0-refit is due — the
fit-time policy wave 11 measured).

Usage: ``python scripts/codebook_stream_throughput.py``
Env: CODEBOOK_RATES="1000,5000" (vectors/sec), CODEBOOK_SECS=45 per
point, CODEBOOK_TRIGGER_SECS=5 (micro-batch trigger interval — the
round-14 VALVE knob: a longer trigger coalesces more vectors per
micro-batch, amortizing the fixed per-batch probe floor that caps
sustained throughput; see SCALING.md's sizing rule).  Prints one JSON
line per rate + a summary; paste into SCALING.md's streaming section.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RATES = [
    int(r) for r in os.environ.get("CODEBOOK_RATES", "1000,5000").split(",")
]
SECS = int(os.environ.get("CODEBOOK_SECS", "45"))
TRIGGER_SECS = int(os.environ.get("CODEBOOK_TRIGGER_SECS", "5"))
# synthetic ids start far above any fixture vec_id so admitted rows
# never collide with the seen half's
_ID_OFFSET = 1_000_000_000


def _synthetic_embeddings(spark, rows_per_sec: int, dim: int):
    """rate source -> (vec_id, embedding) with deterministic pseudo-
    random components in [-1, 1] (JVM-side xxhash64, no Python UDF)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .option("numPartitions", 8)
        .load()
    )
    return rate.select(
        (F.col("value") + F.lit(_ID_OFFSET)).cast("bigint").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                (
                    F.pmod(
                        F.xxhash64(F.col("value") * F.lit(dim) + i),
                        F.lit(2001),
                    )
                    - F.lit(1000)
                )
                / F.lit(1000.0)
            ).cast("float"),
        ).alias("embedding"),
    )


def main() -> None:
    from awsbatch_mapreduce_spark.index.generation import (
        build_generation,
        cutover_generation,
        read_pointer,
    )
    from awsbatch_mapreduce_spark.sources.tables import load_table
    from awsbatch_mapreduce_spark.streaming.codebook import (
        foreach_batch_codebook_admit_probe,
    )

    spark = get_spark(app_name="codebook-stream-throughput")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2

    results = []
    for rate in RATES:
        # fresh index per rate point so growth curves are comparable
        lay = build_generation(
            spark, SF_DIR, "thru", emb.filter(F.col("vec_id") <= F.lit(mid))
        )
        mem = lay.members
        n_seen0 = spark.table(mem).count()
        tmp = os.environ.get("TMPDIR", "/tmp")
        out = os.path.join(tmp, f"codebook_tp_out_{rate}_{os.getpid()}")
        ckpt = os.path.join(tmp, f"codebook_tp_ckpt_{rate}_{os.getpid()}")
        pointer = os.path.join(tmp, f"codebook_tp_ptr_{os.getpid()}")
        cutover_generation(spark, SF_DIR, pointer, "thru")
        fn = foreach_batch_codebook_admit_probe(
            SF_DIR, pointer, read_pointer(pointer), out
        )
        q = (
            _synthetic_embeddings(spark, rate, dim)
            .writeStream.foreachBatch(fn)
            .trigger(processingTime=f"{TRIGGER_SECS} seconds")
            .option("checkpointLocation", ckpt)
            .start()
        )
        time.sleep(SECS)
        # recentProgress yields StreamingQueryProgress objects (.json)
        # on current PySpark, plain dicts on some older versions — the
        # dict branch must not be passed to json.loads (ADVICE r13)
        progress = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress
        ]
        exc = q.exception()
        q.stop()
        # the stream's foreachBatch appends ran in the query's CLONED
        # session; refresh this session's cached file listing before
        # counting the grown table
        spark.catalog.refreshTable(mem)
        n_seen1 = spark.table(mem).count()
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        nonempty = [p for p in progress if p.get("numInputRows", 0) > 0]
        # drop the JIT-cold first batch when there is enough signal;
        # the admission batches are heavy (probe + admit), so a high
        # rate may only complete 1-2 batches in SECS — report them
        # rather than nothing
        steady = nonempty[1:] if len(nonempty) >= 3 else nonempty
        if exc is not None:
            rec = {"rate": rate, "error": str(exc)[:300]}
        elif not steady:
            rec = {"rate": rate, "error": "no completed batches"}
        else:
            proc = [p["processedRowsPerSecond"] for p in steady]
            dur = [p["batchDuration"] for p in steady]
            rec = {
                "pipeline": "codebook_admit_probe",
                "rate_vec_per_sec": rate,
                "trigger_secs": TRIGGER_SECS,
                "n_batches": len(steady),
                # (rows, ms) per steady batch: the pairs the sizing
                # rule is fitted from (duration = floor + c * rows)
                "batches_rows_ms": [
                    [int(p["numInputRows"]), int(p["batchDuration"])]
                    for p in steady
                ],
                "processed_vec_per_sec_median": round(
                    sorted(proc)[len(proc) // 2]
                ),
                "processed_vec_per_sec_min": round(min(proc)),
                "keeps_up": round(min(proc)) >= rate,
                "batch_duration_ms_first_steady": dur[0],
                "batch_duration_ms_last": dur[-1],
                "members_admitted": n_seen1 - n_seen0,
                "members_total_end": n_seen1,
                "index_growth_x": round(n_seen1 / max(n_seen0, 1), 1),
            }
        results.append(rec)
        print(json.dumps(rec), flush=True)
    print(
        json.dumps(
            {
                "summary": {
                    f"admit_probe@{r.get('rate_vec_per_sec')}": r.get(
                        "processed_vec_per_sec_median"
                    )
                    for r in results
                }
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
