"""Load-test the SELF-DRIVING refit loop (round 15, VERDICT r14 #1
done-criteria): sustained streaming admission across >= 2 AUTOMATIC
refit cycles, with per-batch cost returning to the clean model after
each reset.

The round-14 A/B (``codebook_refit_reset.py``) measured the two arms
manually — starved admission at 1/20th capacity vs post-refit back to
~1x — and VERDICT r14 #1 asked for the loop that removes the manual
step.  This script drives ``streaming.supervisor.
run_supervised_admission`` against a synthetic rate source: the
supervisor bootstraps a deliberately small first generation (the
sf-dir seen half), so continued admission crosses the cadence factor
quickly and several automatic quiesce -> refit -> cutover -> vacuum ->
resume cycles run inside the wall budget.

Output: one JSON line per supervisor segment (generation kind, n_fit,
steady (rows, ms) pairs) and per refit event (old/new, wall seconds,
index growth), then a summary line with per-segment marginal cost
(ms/kvec above the measured 6 s floor) — the number that must RETURN
to the clean model after each refit for the loop to count as working.

Usage::

    python scripts/codebook_auto_refit.py
    AUTOREFIT_RATE=1000 AUTOREFIT_TRIGGER=8 AUTOREFIT_SECS=240 \
        AUTOREFIT_INFLATION=2.0 python scripts/codebook_auto_refit.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RATE = int(os.environ.get("AUTOREFIT_RATE", "1000"))
TRIGGER = int(os.environ.get("AUTOREFIT_TRIGGER", "8"))
RUN_SECS = int(os.environ.get("AUTOREFIT_SECS", "240"))
INFLATION = float(os.environ.get("AUTOREFIT_INFLATION", "2.0"))
RECALL_PANEL = int(os.environ.get("AUTOREFIT_RECALL_PANEL", "64"))
# round 16: AUTOREFIT_PQ=1 bootstraps a PQ-carrying generation (codes
# appended per batch, rebuilt per automatic refit, ADC-probed at the
# end); AUTOREFIT_RECALL_FLOOR_BP > 0 arms the nprobe actuator
WITH_PQ = os.environ.get("AUTOREFIT_PQ", "0") == "1"
RECALL_FLOOR_BP = int(os.environ.get("AUTOREFIT_RECALL_FLOOR_BP", "0"))
# round 17: AUTOREFIT_RECALL_EVERY > 0 re-arms the recall snapshot
# every N fresh batches (the mid-generation QA cadence, VERDICT r16
# #3) — the per-batch (rows, ms) pairs then PRICE the re-snapshot:
# compare segment marginals against a recall_every=0 run
RECALL_EVERY = int(os.environ.get("AUTOREFIT_RECALL_EVERY", "0"))
# round 18: AUTOREFIT_DELETE_MOD=N tombstones every Nth member of the
# bootstrap generation BEFORE the stream starts (the takedown verb at
# load): every admission-batch novelty probe serves the deletion from
# batch 0, and the first automatic refit applies it structurally —
# the summary records that the final generation holds zero tombstoned
# ids and its tombstone table is gone
DELETE_MOD = int(os.environ.get("AUTOREFIT_DELETE_MOD", "0"))
# round 18 follow-on: AUTOREFIT_DELETE_FRACTION > 0 arms the
# deletion-fraction COMPACTION trigger — with DELETE_MOD tombstoning
# ~1/MOD of the bootstrap generation, a fraction below that share
# makes the FIRST batch's cadence check signal reason `deletions`
# (before growth could), so the run shows a takedown-driven refit
# under live admission load
DELETE_FRACTION = float(os.environ.get("AUTOREFIT_DELETE_FRACTION", "0"))

_FLOOR_MS = 6000.0  # the measured round-14 per-batch fixed floor


def _synthetic(spark, rows_per_sec: int, dim: int):
    """rate source -> (vec_id, embedding), JVM-side pseudo-random
    components (same construction as codebook_stream_throughput.py);
    ids offset far above the fixture's so admissions never collide
    with the bootstrap corpus."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .option("numPartitions", 8)
        .load()
    )
    return rate.select(
        (F.col("value") + F.lit(10**9)).cast("bigint").alias("vec_id"),
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
    from awsbatch_mapreduce_spark.sources.tables import load_table
    from awsbatch_mapreduce_spark.streaming.supervisor import (
        bootstrap_generation,
        run_supervised_admission,
    )

    spark = get_spark(app_name="codebook-auto-refit")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2

    tmp = os.environ.get("TMPDIR", "/tmp")
    pid = os.getpid()
    pointer = os.path.join(tmp, f"autorefit_ptr_{pid}")
    out = os.path.join(tmp, f"autorefit_out_{pid}")
    ckpt = os.path.join(tmp, f"autorefit_ckpt_{pid}")

    kind0 = bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "aref",
        with_pq=WITH_PQ,
    )
    n_tombstoned = 0
    if DELETE_MOD > 0:
        from awsbatch_mapreduce_spark.index.generation import (
            generation_layout,
            tombstone_members,
        )

        doomed = (
            spark.table(generation_layout(SF_DIR, kind0).members)
            .filter(F.pmod(F.col("seen_id"), F.lit(DELETE_MOD)) == 0)
            .select("seen_id")
        )
        n_tombstoned = tombstone_members(spark, SF_DIR, pointer, doomed)
    print(
        json.dumps(
            {
                "phase": "bootstrap",
                "generation": kind0,
                "rate": RATE,
                "trigger_secs": TRIGGER,
                "inflation": INFLATION,
                "run_secs": RUN_SECS,
                "with_pq": WITH_PQ,
                "recall_floor_bp": RECALL_FLOOR_BP,
                "recall_every": RECALL_EVERY,
                "delete_mod": DELETE_MOD,
                "delete_fraction": DELETE_FRACTION,
                "n_tombstoned": n_tombstoned,
            }
        ),
        flush=True,
    )

    report = run_supervised_admission(
        spark,
        _synthetic(spark, RATE, dim),
        SF_DIR,
        pointer,
        out,
        ckpt,
        trigger_secs=TRIGGER,
        tolerated_inflation=INFLATION,
        gen_prefix="aref",
        run_secs=RUN_SECS,
        await_secs=RUN_SECS + 120,
        recall_panel=RECALL_PANEL,
        recall_floor_bp=RECALL_FLOOR_BP,
        recall_every=RECALL_EVERY,
        max_deleted_fraction=DELETE_FRACTION,
    )

    for seg in report["segments"]:
        print(json.dumps({"phase": "segment", **seg}), flush=True)
    for r in report["refits"]:
        print(json.dumps({"phase": "refit", **r}), flush=True)
    for s in report.get("recall", []):
        print(json.dumps({"phase": "recall_snapshot", **s}), flush=True)

    # marginal cost per segment: (batch_ms - floor) / kvec over steady
    # batches — must return to the clean band after each refit
    marginals = []
    for seg in report["segments"]:
        steady = seg["batches_rows_ms"][1:] or seg["batches_rows_ms"]
        pts = [
            (ms - _FLOOR_MS) / (rows / 1000.0)
            for rows, ms in steady
            if rows > 0 and ms > _FLOOR_MS
        ]
        marginals.append(
            {
                "generation": seg["generation"],
                "n_fit": seg["n_fit"],
                "n_batches": len(seg["batches_rows_ms"]),
                "marginal_ms_per_kvec": (
                    round(sum(pts) / len(pts), 1) if pts else None
                ),
            }
        )
    from awsbatch_mapreduce_spark.index.generation import (
        generation_layout,
        read_pointer,
    )

    summary = {
        "phase": "summary",
        "n_refits": len(report["refits"]),
        "recovered": report["recovered"],
        "segment_marginals": marginals,
        "n_snapshots": len(report.get("recall", [])),
        "serving_nprobe": read_pointer(pointer).serving_nprobe,
    }
    if DELETE_MOD > 0 and report["refits"]:
        # the takedown contract at load: after >= 1 automatic refit the
        # final generation must hold ZERO tombstoned bootstrap members
        # and carry no tombstone table (cleared structurally)
        final = generation_layout(SF_DIR, read_pointer(pointer).kind)
        leaked = (
            spark.table(final.members)
            .filter(F.col("seen_id") < F.lit(10**9))  # bootstrap ids only
            .filter(F.pmod(F.col("seen_id"), F.lit(DELETE_MOD)) == 0)
            .count()
        )
        summary["n_tombstoned"] = n_tombstoned
        summary["tombstoned_in_final_generation"] = leaked
        summary["tombstone_table_final"] = spark.catalog.tableExists(
            final.tombs
        )
    print(json.dumps(summary), flush=True)

    if WITH_PQ:
        # the ADC path must still serve through the pointer after the
        # automatic cycles (VERDICT r15 #1 done-criterion, at load)
        from awsbatch_mapreduce_spark.index.codebook import _quantize
        from awsbatch_mapreduce_spark.index.probe import (
            probe_current_generation,
        )

        probe = (
            emb.filter(F.col("vec_id") > F.lit(mid))
            .limit(256)
            .select("vec_id", _quantize(F.col("embedding")).alias("vq"))
        )
        res = probe_current_generation(spark, SF_DIR, pointer, probe, adc=True)
        n_dup = res.filter(F.col("is_novel") == 0).count()
        print(
            json.dumps(
                {
                    "phase": "adc_probe_after_cycles",
                    "pointer": read_pointer(pointer)._asdict(),
                    "probe_rows": res.count(),
                    "n_dup_verdicts": n_dup,
                }
            ),
            flush=True,
        )

    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    for p in (pointer, f"{pointer}.tmp"):
        try:
            os.remove(p)
        except OSError:
            pass


if __name__ == "__main__":
    main()
