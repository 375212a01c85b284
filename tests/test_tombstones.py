"""Member DELETION from the persisted index (`index/generation.py`
verbs, the `Tombstone` step of `plans/codebook_lifecycle.py`) — the
lifecycle verb round 18 added (VERDICT r17
missing #1).

The claims under test:

- the verb is idempotent (a replayed delete is byte-identical) and its
  sibling-swap write is crash-completable at the mid-swap window;
- deletion reaches EVERY serving path with NO refit: the
  pointer-resolved full-vector probe, the multiprobe path, the ADC
  path, and the streaming admission's novelty probe — deleted members
  stop matching, their cells' other members keep matching;
- the guarded refit EXCLUDES tombstoned members (k0 over survivors,
  n_fit = survivors) and the new generation starts with no tombstone
  table; a deletion landing mid-refit REFUSES the cutover (it would be
  silently resurrected otherwise);
- vacuum reclaims a superseded generation's tombstone table with it;
- the supervisor path end to end: deletions against the bootstrap
  generation are served by the admission probes immediately and become
  structural at the automatic refit.
"""

from __future__ import annotations

import os
import time as _time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import awsbatch_mapreduce_spark.index.generation as gen
from awsbatch_mapreduce_spark.index.generation import (
    _table_location,
    build_generation,
    cutover_generation,
    generation_layout,
    live_view,
    read_pointer,
    refit_and_cutover,
    tombstone_members,
    vacuum_generation,
)
import awsbatch_mapreduce_spark.index.probe as index_probe
from awsbatch_mapreduce_spark.index.codebook import _quantize
from awsbatch_mapreduce_spark.index.probe import probe_current_generation
from awsbatch_mapreduce_spark.plans.codebook_oracle import _TOMB_MOD
from awsbatch_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _bounds(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    return emb, (b.lo + b.hi) // 2


def _build_gen(spark, kind, pointer):
    """Fit over the seen half + cutover; returns (emb, mid, tables)."""
    emb, mid = _bounds(spark)
    lay = build_generation(
        spark, SF_DIR, kind, emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    base, coarse, fine, mem = lay[:4]
    spark.sql(f"DROP TABLE IF EXISTS {generation_layout(SF_DIR, kind).tombs}")
    if os.path.exists(pointer):
        os.remove(pointer)
    cutover_generation(spark, SF_DIR, pointer, kind)
    return emb, mid, (coarse, fine, mem)


def _probe_frame(spark, emb, mid):
    return emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )


def _rows(df):
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def _tomb_ids(spark, mem):
    return (
        spark.table(mem)
        .filter(F.pmod(F.col("seen_id"), F.lit(_TOMB_MOD)) == 0)
        .select("seen_id")
    )


def test_delete_is_idempotent_and_merges(spark, tmp_path):
    pointer = str(tmp_path / "ptr")
    _, _, (_, _, mem) = _build_gen(spark, "tid", pointer)
    a = spark.range(0, 0).selectExpr("id AS seen_id")  # empty: no-op set
    ids_a = _tomb_ids(spark, mem).limit(3)
    n1 = tombstone_members(spark, SF_DIR, pointer, ids_a)
    set1 = _rows(spark.table(generation_layout(SF_DIR, "tid").tombs))
    assert n1 == 3 and len(set1) == 3
    # replay: byte-identical set, same count
    assert tombstone_members(spark, SF_DIR, pointer, ids_a) == 3
    assert _rows(spark.table(generation_layout(SF_DIR, "tid").tombs)) == set1
    # merge: a disjoint second request unions in
    ids_b = (
        _tomb_ids(spark, mem)
        .join(F.broadcast(ids_a), "seen_id", "left_anti")
        .limit(2)
    )
    assert tombstone_members(spark, SF_DIR, pointer, ids_b) == 5
    assert tombstone_members(spark, SF_DIR, pointer, a) == 5  # empty req


def test_delete_crash_mid_swap_completes_on_next_entry(spark, tmp_path):
    pointer = str(tmp_path / "ptr")
    _, _, (_, _, mem) = _build_gen(spark, "tcr", pointer)
    tombs = generation_layout(SF_DIR, "tcr").tombs
    tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem).limit(3))
    before = _rows(spark.table(tombs))
    # second delete must go through the swap path; simulate the crash
    # BETWEEN the two renames: live location missing, __repair complete
    tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem).limit(4))
    loc = _table_location(spark, tombs)
    os.rename(loc, f"{loc}__repair")
    # next entry completes the pending swap before merging
    n = tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem).limit(5))
    assert n == 5
    got = _rows(spark.table(tombs))
    assert len(got) == 5 and set(map(tuple, before)) <= set(map(tuple, got))


def test_deleted_members_stop_matching_others_still_match(spark, tmp_path):
    pointer = str(tmp_path / "ptr")
    emb, mid, (coarse, fine, mem) = _build_gen(spark, "tsv", pointer)
    probe = _probe_frame(spark, emb, mid)
    baseline = _rows(probe_current_generation(spark, SF_DIR, pointer, probe))

    tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem))
    got = _rows(probe_current_generation(spark, SF_DIR, pointer, probe))

    # twin: the same probe over a manually filtered members relation
    live = spark.table(mem).filter(
        F.pmod(F.col("seen_id"), F.lit(_TOMB_MOD)) != 0
    )
    live.createOrReplaceTempView("tsv_manual_live")
    want = _rows(index_probe.probe(spark, probe, coarse, fine, "tsv_manual_live"))
    assert got == want and len(got) > 0

    # the deletion MOVED the output (some probe vector lost duplicates)
    assert got != baseline
    # ...while other members still match: not every hit disappeared
    n_dups = {r for r in got}
    assert any(r[3] > 0 for r in got), n_dups  # n_seen_dups col (sorted cols)


def test_refit_excludes_clears_and_vacuums_tombstones(spark, tmp_path):
    pointer = str(tmp_path / "ptr")
    emb, mid, (_, _, mem) = _build_gen(spark, "trf", pointer)
    doomed = _tomb_ids(spark, mem)
    n_doomed = doomed.count()
    n_members = spark.table(mem).count()
    tombstone_members(spark, SF_DIR, pointer, doomed)

    prev = refit_and_cutover(spark, SF_DIR, pointer, "trfr")
    assert prev == "trf"
    kind, n_fit = read_pointer(pointer)[:2]
    assert kind == "trfr"
    new_mem = generation_layout(SF_DIR, "trfr").members
    survivors = spark.table(new_mem)
    # excluded: no tombstoned id in the new generation; n_fit = survivors
    assert survivors.filter(
        F.pmod(F.col("seen_id"), F.lit(_TOMB_MOD)) == 0
    ).count() == 0
    assert survivors.count() == n_members - n_doomed == n_fit
    # cleared: the NEW generation has no tombstone table
    assert not spark.catalog.tableExists(generation_layout(SF_DIR, "trfr").tombs)
    # vacuum reclaims the old generation's tombstone table with it
    assert spark.catalog.tableExists(generation_layout(SF_DIR, "trf").tombs)
    vacuum_generation(spark, SF_DIR, pointer, "trf")
    assert not spark.catalog.tableExists(generation_layout(SF_DIR, "trf").tombs)


def test_delete_landing_mid_refit_refuses_cutover(spark, tmp_path, monkeypatch):
    pointer = str(tmp_path / "ptr")
    _, _, (_, _, mem) = _build_gen(spark, "tmf", pointer)
    tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem).limit(2))

    real = gen.build_generation

    def refit_then_delete(*a, **kw):
        lay = real(*a, **kw)
        # a deletion request lands while the refit runs (post-snapshot)
        tombstone_members(
            spark, SF_DIR, pointer, _tomb_ids(spark, mem).limit(4)
        )
        return lay

    monkeypatch.setattr(gen, "build_generation", refit_then_delete)
    with pytest.raises(RuntimeError, match="tombstones moved"):
        refit_and_cutover(spark, SF_DIR, pointer, "tmfr")
    # the pointer never moved — the old generation still serves
    assert read_pointer(pointer)[:2][0] == "tmf"


def test_adc_serving_excludes_tombstoned_members(spark, tmp_path):
    pointer = str(tmp_path / "ptr")
    emb, mid = _bounds(spark)
    lay = build_generation(
        spark, SF_DIR, "tad", emb.filter(F.col("vec_id") <= F.lit(mid)),
        with_pq=True,
    )
    base, coarse, fine, mem, codes, pqcb = lay[:6]
    spark.sql(f"DROP TABLE IF EXISTS {generation_layout(SF_DIR, 'tad').tombs}")
    if os.path.exists(pointer):
        os.remove(pointer)
    cutover_generation(spark, SF_DIR, pointer, "tad", with_pq=True)
    tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem))

    probe = _probe_frame(spark, emb, mid)
    got = _rows(
        probe_current_generation(spark, SF_DIR, pointer, probe, adc=True)
    )
    # twin: ADC probe over manually filtered members AND codes — a
    # deleted member must not even occupy a rerank candidate slot
    pred = F.pmod(F.col("seen_id"), F.lit(_TOMB_MOD)) != 0
    spark.table(mem).filter(pred).createOrReplaceTempView("tad_mem_live")
    spark.table(codes).filter(pred).createOrReplaceTempView("tad_codes_live")
    want = _rows(
        index_probe.probe(
            spark, probe, coarse, fine, "tad_mem_live",
            codes="tad_codes_live", pqcb=pqcb,
        )
    )
    assert got == want and len(got) > 0


def test_supervisor_serves_and_structurally_applies_deletions(
    spark, tmp_path
):
    """The supervisor path end to end: tombstones against the
    bootstrap generation are (a) honored by the streaming admission's
    novelty probe from the first batch, and (b) excluded + cleared by
    the automatic refit the growth cadence triggers."""
    from awsbatch_mapreduce_spark.streaming.supervisor import (
        bootstrap_generation,
        run_supervised_admission,
    )

    emb, mid = _bounds(spark)
    hi = emb.agg(F.max("vec_id").alias("hi")).first().hi
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark, SF_DIR, pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)), "tsp",
    )
    mem0 = generation_layout(SF_DIR, "tsp0000").members
    doomed = _tomb_ids(spark, mem0)
    n_doomed = doomed.count()
    assert n_doomed > 0
    tombstone_members(spark, SF_DIR, pointer, doomed)

    # two chunks of the new half -> two micro-batches; tight inflation
    # so the cadence triggers an automatic refit
    out = tmp_path / "chunks"
    out.mkdir()
    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vid = table.column("vec_id")
    q3 = (mid + hi) // 2
    now = _time.time()
    for i, (a, b) in enumerate(((mid, q3), (q3, hi))):
        chunk = table.filter(
            pc.and_(pc.greater(vid, a), pc.less_equal(vid, b))
        )
        p = out / f"chunk-{i}.parquet"
        pq.write_table(chunk, str(p))
        os.utime(p, (now - 20 + 10 * i, now - 20 + 10 * i))
    schema = load_table(spark, SF_DIR, "embeddings").schema
    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    # (a) serving, expected side: batch 0 probes the bootstrap
    # generation BEFORE admitting anything — exactly what the serving
    # path computes for the same frame right now, tombstones in force
    batch0 = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    want0 = _rows(probe_current_generation(spark, SF_DIR, pointer, batch0))
    # ...and it must DIFFER from the tombstone-blind probe (the
    # deletion moved the novelty verdicts at the admission surface)
    mem0_tbl = generation_layout(SF_DIR, "tsp0000").members
    coarse0, fine0, _ = generation_layout(SF_DIR, "tsp0000").tables[:3]
    blind0 = _rows(
        index_probe.probe(spark, batch0, coarse0, fine0, mem0_tbl)
    )
    assert want0 != blind0

    report = run_supervised_admission(
        spark, source, SF_DIR, pointer,
        str(tmp_path / "o"), str(tmp_path / "ck"),
        available_now=True, tolerated_inflation=1.2, gen_prefix="tsp",
    )
    assert len(report["refits"]) >= 1, report

    # (b) structural: the refit generation holds no tombstoned member
    # and its tombstone table is gone (cleared + vacuumed with the old)
    kind, n_fit = read_pointer(pointer)[:2]
    mem_now = generation_layout(SF_DIR, kind).members
    assert spark.table(mem_now).filter(
        F.pmod(F.col("seen_id"), F.lit(_TOMB_MOD)) == 0
    ).filter(F.col("seen_id") <= F.lit(mid)).count() == 0
    assert not spark.catalog.tableExists(generation_layout(SF_DIR, kind).tombs)
    assert not spark.catalog.tableExists(generation_layout(SF_DIR, "tsp0000").tombs)

    # (a) serving: the FIRST batch's committed probe partition is
    # byte-identical to the tombstone-honoring probe computed above —
    # the admission surface served the deletion from batch 0
    res0 = spark.read.parquet(str(tmp_path / "o")).filter(
        F.col("batch_id") == 0
    ).drop("batch_id")
    got0 = _rows(res0)
    assert got0 == want0 and len(got0) == batch0.count() > 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


def test_live_view_is_swap_safe_snapshot(spark, tmp_path):
    """The r15 trap class, closed for the tombstone read (round-18
    follow-on): (a) a probe built while a tombstone sibling swap is
    PENDING (root missing, __repair complete) must complete it and
    serve the full deletion set — never silently read EMPTY tombstones
    and resurrect every deleted member; (b) the view's deletion set is
    an eager SNAPSHOT: a tombstone write landing after plan build does
    not mutate an already-built view's output."""

    pointer = str(tmp_path / "ptr")
    _, _, (coarse, fine, mem) = _build_gen(spark, "tsw", pointer)
    tombs = generation_layout(SF_DIR, "tsw").tombs
    tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem).limit(3))
    tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem).limit(4))
    n_full = spark.table(mem).count()

    # (a) simulate the mid-swap instant: root missing, __repair ready
    loc = _table_location(spark, tombs)
    os.rename(loc, f"{loc}__repair")
    name = live_view(spark, mem, tombs, "live", pointer_path=pointer)
    spark.catalog.refreshTable(tombs)
    assert spark.table(name).count() == n_full - 4  # completed + applied
    assert os.path.isdir(loc)  # the pending swap was finished

    # (b) snapshot isolation: more deletions after plan build do not
    # change the already-built view
    before = spark.table(name).count()
    tombstone_members(spark, SF_DIR, pointer, _tomb_ids(spark, mem))
    assert spark.table(name).count() == before
    # a FRESH view sees the grown set
    name2 = live_view(spark, mem, tombs, "live2", pointer_path=pointer)
    n_doomed = _tomb_ids(spark, mem).count()
    assert spark.table(name2).count() == n_full - n_doomed
