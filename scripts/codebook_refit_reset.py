"""Measure the refit RESET (round 14): does a refit from the members table
actually recover the streaming-admission cost that refit-starved index
growth inflates?

Round 13 measured the inflation (a batch at 46x growth ran 2.5x its
predicted duration) and the round-14 sizing rule carries the caveat
"the wave-13 refit is the reset" — this script turns that sentence
into an A/B.  The starvation driver is MANY SMALL admissions: each
batch appends >= 1 ceil-grade fine generation per touched coarse cell
while k0 stays sized for the ORIGINAL corpus, so the probe's
fine-argmin degree (subs per coarse cell) grows linearly with admitted
history.  Design — four phases, one JSON line each, all at the same
rate/trigger so batch sizes match:

1. GROW: stream many small admissions against a fresh sf0.1-seen-half
   index until the members table is ~two orders bigger and the fine
   book carries one generation per batch.
2. CONTINUE (the no-refit arm): a fresh stream admits into the GROWN,
   starved layout — its steady per-batch ms is the cost an operator
   pays by skipping the refit.
3. REFIT + CUTOVER: `index.generation.build_generation` over the grown
   members' own rows consolidates the grown
   members into a fresh generation (k0 recomputed for the grown n,
   fine book collapsed to ceil-grade); wall time printed — the weekly
   price.
4. RESUME (the refit arm): the same stream config admits into the
   REFITTED generation — same corpus size, same batch sizes, fresh
   layout.

The claim checks out if phase-4 per-batch ms sits well under phase-2's
at matched rows; the 2/4 ratio is the measured value of one refit.
Each phase gets its own sink/checkpoint dirs (the admission protocol's
intent/watermark markers live in the sink dir — reusing it across
streams whose batch ids restart would misread a fresh batch as a
committed replay) and its own disjoint synthetic id range.

Usage::

    python scripts/codebook_refit_reset.py
    RESET_RATE=1000 RESET_TRIGGER=8 RESET_GROW_SECS=170 \
        RESET_AB_SECS=50 python scripts/codebook_refit_reset.py
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
RATE = int(os.environ.get("RESET_RATE", "1000"))
TRIGGER = int(os.environ.get("RESET_TRIGGER", "8"))
GROW_SECS = int(os.environ.get("RESET_GROW_SECS", "170"))
AB_SECS = int(os.environ.get("RESET_AB_SECS", "50"))

# disjoint synthetic id ranges per phase: later admissions must never
# collide with rows an earlier phase already admitted
_OFFSETS = {"grow": 10**9, "continue": 2 * 10**9, "resume": 3 * 10**9}


def _synthetic(spark, rows_per_sec: int, dim: int, offset: int):
    """rate source -> (vec_id, embedding), JVM-side pseudo-random
    components (same construction as codebook_stream_throughput.py)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .option("numPartitions", 8)
        .load()
    )
    return rate.select(
        (F.col("value") + F.lit(offset)).cast("bigint").alias("vec_id"),
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


def _pointer_path() -> str:
    tmp = os.environ.get("TMPDIR", "/tmp")
    return os.path.join(tmp, f"codebook_reset_ptr_{os.getpid()}")


def _stream_phase(spark, dim: int, secs: int, tag: str) -> list[list[int]]:
    """Run a fresh admission stream for ``secs`` against the generation
    the pointer names; return steady (rows, ms) pairs (first non-empty
    batch dropped as JIT/backlog-cold when enough signal exists).
    Fresh sink (markers included) + checkpoint + id range per phase."""
    from awsbatch_mapreduce_spark.index.generation import read_pointer
    from awsbatch_mapreduce_spark.streaming.codebook import (
        foreach_batch_codebook_admit_probe,
    )

    tmp = os.environ.get("TMPDIR", "/tmp")
    out = os.path.join(tmp, f"codebook_reset_{tag}_{os.getpid()}")
    ckpt = os.path.join(tmp, f"codebook_reset_ckpt_{tag}_{os.getpid()}")
    pointer = _pointer_path()
    fn = foreach_batch_codebook_admit_probe(
        SF_DIR, pointer, read_pointer(pointer), out
    )
    q = (
        _synthetic(spark, RATE, dim, _OFFSETS[tag])
        .writeStream.foreachBatch(fn)
        .trigger(processingTime=f"{TRIGGER} seconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    time.sleep(secs)
    progress = [
        p if isinstance(p, dict) else json.loads(p.json)
        for p in q.recentProgress
    ]
    exc = q.exception()
    q.stop()
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    if exc is not None:
        print(json.dumps({"phase": tag, "error": str(exc)[:300]}), flush=True)
        return []
    nonempty = [p for p in progress if p.get("numInputRows", 0) > 0]
    steady = nonempty[1:] if len(nonempty) >= 3 else nonempty
    return [
        [int(p["numInputRows"]), int(p["batchDuration"])] for p in steady
    ]


def _index_stats(spark, coarse, fine, mem) -> dict:
    for t in (coarse, fine, mem):
        spark.catalog.refreshTable(t)
    return {
        "members": spark.table(mem).count(),
        "k0": spark.table(coarse).count(),
        "fine_cells": spark.table(fine).count(),
    }


def main() -> None:
    from awsbatch_mapreduce_spark.index.generation import (
        build_generation,
        cutover_generation,
        members_corpus,
    )
    from awsbatch_mapreduce_spark.sources.tables import load_table

    spark = get_spark(app_name="codebook-refit-reset")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2

    # phase 1: GROW a fresh index through many small admissions
    gen_a = build_generation(
        spark, SF_DIR, "rsta", emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    coarse_a, fine_a, mem_a = gen_a.coarse, gen_a.fine, gen_a.members
    cutover_generation(spark, SF_DIR, _pointer_path(), "rsta")
    s0 = _index_stats(spark, coarse_a, fine_a, mem_a)
    grow = _stream_phase(spark, dim, GROW_SECS, "grow")
    s1 = _index_stats(spark, coarse_a, fine_a, mem_a)
    print(
        json.dumps(
            {
                "phase": "grow",
                "rate": RATE,
                "trigger_secs": TRIGGER,
                "before": s0,
                "after": s1,
                "growth_x": round(s1["members"] / max(s0["members"], 1), 1),
                "n_batches": len(grow),
                "batches_rows_ms": grow,
            }
        ),
        flush=True,
    )

    # phase 2: CONTINUE on the starved layout (the no-refit arm)
    cont = _stream_phase(spark, dim, AB_SECS, "continue")
    s2 = _index_stats(spark, coarse_a, fine_a, mem_a)
    print(
        json.dumps(
            {
                "phase": "continue_no_refit",
                "index": s2,
                "batches_rows_ms": cont,
            }
        ),
        flush=True,
    )

    # phase 3: REFIT from the grown members + report the collapse
    t0 = time.perf_counter()
    gen_r = build_generation(
        spark, SF_DIR, "rstr", members_corpus(spark, gen_a)
    )
    refit_sec = round(time.perf_counter() - t0, 1)
    coarse_r, fine_r, mem_r = gen_r.coarse, gen_r.fine, gen_r.members
    s3 = _index_stats(spark, coarse_r, fine_r, mem_r)
    print(
        json.dumps({"phase": "refit", "refit_sec": refit_sec, "index": s3}),
        flush=True,
    )

    # phase 4: RESUME on the refitted generation (the refit arm)
    cutover_generation(spark, SF_DIR, _pointer_path(), "rstr")
    resume = _stream_phase(spark, dim, AB_SECS, "resume")
    print(
        json.dumps(
            {"phase": "resume_post_refit", "batches_rows_ms": resume}
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
