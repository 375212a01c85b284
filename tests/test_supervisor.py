"""The self-driving refit loop (`streaming/supervisor.py`): automatic
quiesce -> refit -> cutover -> vacuum -> resume, pinned end to end.

The claims under test:

- the supervisor sustains admission ACROSS automatic refit cycles
  (>= 2 on the fixture) and the surviving index is frame-identical to
  one clean fit over everything admitted — the wave-13 refit proof,
  now reached without any manual step;
- every probe partition commits exactly once despite the
  replay-on-restart the quiesce mechanism relies on;
- a crash DURING the automatic sequence (mid-refit) leaves the pointer
  on the intact old generation, and the next supervisor run recovers:
  startup sweep vacuums the half-built generation, the cadence check
  re-signals, the refit completes — landing the crashed timeline on
  the never-crashed one;
- the n_fit denominator rides the pointer's atomic rename
  (old-format pointers degrade to a live count, never crash).
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
    build_generation,
    cutover_generation,
    generation_layout,
    live_view,
    read_pointer,
    set_generation_nprobe,
    tombstone_members,
)
import awsbatch_mapreduce_spark.index.probe as index_probe
from awsbatch_mapreduce_spark.index.codebook import _quantize
from awsbatch_mapreduce_spark.index.probe import probe_current_generation
from awsbatch_mapreduce_spark.sources.tables import load_table
from awsbatch_mapreduce_spark.streaming.supervisor import (
    _next_kind,
    bootstrap_generation,
    run_supervised_admission,
)
from tests.conftest import SF_DIR

_INFLATION = 1.2  # low factor so the 4-chunk fixture triggers >= 2 refits


def _bounds(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    return emb, b.lo, b.hi


@pytest.fixture(scope="module")
def four_chunks(spark, tmp_path_factory):
    """The new half split into four parquet chunk files with pinned
    increasing mtimes (file-source order), so maxFilesPerTrigger=1
    yields four admission micro-batches."""
    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    out = tmp_path_factory.mktemp("sup_stream")
    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vid = table.column("vec_id")
    edges = [mid + (hi - mid) * k // 4 for k in range(5)]
    now = _time.time()
    for i, (a, b) in enumerate(zip(edges, edges[1:])):
        chunk = table.filter(pc.and_(pc.greater(vid, a), pc.less_equal(vid, b)))
        p = out / f"chunk-{i}.parquet"
        pq.write_table(chunk, str(p))
        os.utime(p, (now - 40 + 10 * i, now - 40 + 10 * i))
    return str(out)


def _source(spark, chunks_dir):
    schema = load_table(spark, SF_DIR, "embeddings").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir)
    )


def _run(spark, chunks_dir, tmp_path, pointer, **kw):
    return run_supervised_admission(
        spark,
        _source(spark, chunks_dir),
        SF_DIR,
        pointer,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=_INFLATION,
        **kw,
    )


def test_next_kind_and_pointer_meta_roundtrip(tmp_path):
    assert _next_kind("sup", "sup0000") == "sup0001"
    assert _next_kind("sup", "sup0041") == "sup0042"
    assert _next_kind("sup", "unrelated") == "sup0001"
    # old-format pointer (kind only): n_fit degrades to None, not a crash
    p = str(tmp_path / "ptr")
    with open(p, "w") as fh:
        fh.write("legacy_kind")
    assert read_pointer(p)[:2] == ("legacy_kind", None)
    assert read_pointer(p).kind == "legacy_kind"
    assert read_pointer(str(tmp_path / "missing"))[:2] == (None, None)


def test_supervisor_requires_bootstrap(spark, four_chunks, tmp_path):
    with pytest.raises(RuntimeError, match="no current generation"):
        _run(spark, four_chunks, tmp_path, str(tmp_path / "ptr"))


def test_supervisor_reads_pointer_once_per_cycle(
    spark, four_chunks, tmp_path, monkeypatch
):
    """One pointer snapshot per stream incarnation (the single-read
    discipline of ``read_pointer``): kind, n_fit and the capability
    tokens of a cycle come from one record, and the read after each
    refit is the next cycle's record."""
    import awsbatch_mapreduce_spark.streaming.supervisor as sup

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svrp",
    )
    reads = []
    real_read = sup.read_pointer

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(sup, "read_pointer", counting_read)
    report = _run(spark, four_chunks, tmp_path, pointer, gen_prefix="svrp")
    assert len(report["refits"]) >= 1, report["refits"]
    assert len(reads) == len(report["segments"]) == 1 + len(report["refits"])


def test_supervised_admission_auto_refits_and_matches_clean_fit(
    spark, four_chunks, tmp_path
):
    """The headline pin: four streamed admissions under a tight
    cadence factor drive >= 2 AUTOMATIC refit cycles; afterwards the
    pointer names the last refit generation, every superseded
    generation is vacuumed, all admitted vectors are in the index, and
    a probe through the pointer is frame-identical to a probe of one
    from-scratch fit over everything admitted (the wave-13 refit
    equivalence, reached with zero manual steps).  Probe partitions
    committed exactly once per batch despite quiesce replays."""
    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "sva",
    )
    assert read_pointer(pointer)[:2] == (
        "sva0000",
        emb.filter(F.col("vec_id") <= F.lit(mid)).count(),
    )
    report = _run(
        spark, four_chunks, tmp_path, pointer, gen_prefix="sva",
        recall_panel=16,
    )

    assert len(report["refits"]) >= 2, report["refits"]
    # one recall snapshot per stream incarnation that saw a fresh batch
    # (the per-generation QA read): consistent and non-degenerate
    snaps = report.get("recall", [])
    assert len(snaps) >= len(report["refits"]), snaps
    assert len({s["batch_id"] for s in snaps}) == len(snaps)
    for s in snaps:
        assert 0 <= s["n_detected_vecs"] <= s["n_truth_vecs"] <= 16, s
        assert s["n_detected_pairs"] <= s["n_truth_pairs"], s
        assert 0 <= s["vec_recall_bp"] <= 10000, s
        assert 0 <= s["pair_recall_bp"] <= 10000, s
    assert any(s["n_truth_vecs"] > 0 for s in snaps), snaps
    kind, n_fit = read_pointer(pointer)[:2]
    assert kind == report["refits"][-1]["new"]
    assert n_fit == report["refits"][-1]["n_fit_after"]
    # each refit entry reports the width the pointer serves (growth
    # refits inherit it; no snapshot here steps it)
    served = read_pointer(pointer).serving_nprobe
    assert all(r["nprobe_after"] == served for r in report["refits"]), (
        report["refits"]
    )
    # every superseded generation reclaimed
    for r in report["refits"]:
        old_mem = generation_layout(SF_DIR, r["old"]).members
        assert not spark.catalog.tableExists(old_mem), r["old"]
    # the full corpus was admitted across the cycles
    mem_tbl = generation_layout(SF_DIR, kind).members
    assert spark.table(mem_tbl).count() == emb.count()

    # equivalence with one clean fit over everything admitted
    probe = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    got = sorted(
        map(
            tuple,
            probe_current_generation(spark, SF_DIR, pointer, probe).collect(),
        )
    )
    lay_s = build_generation(spark, SF_DIR, "svs", emb)
    base_s, coarse_s, fine_s, mem_s = lay_s[:4]
    want = sorted(
        map(tuple, index_probe.probe(spark, probe, coarse_s, fine_s, mem_s).collect())
    )
    assert got == want and len(got) > 0

    # probe partitions: one per admitted batch, each exactly the
    # batch's row count (no duplicates from the quiesce replays)
    res = spark.read.parquet(str(tmp_path / "out"))
    per_batch = {
        r["batch_id"]: r["n"]
        for r in res.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(per_batch) == [0, 1, 2, 3]
    q4 = emb.count() // 4
    assert sum(per_batch.values()) == emb.filter(F.col("vec_id") > F.lit(mid)).count()
    assert all(v > 0 for v in per_batch.values()), per_batch
    assert q4 > 0


def test_supervisor_clears_stale_refit_marker(spark, tmp_path):
    """A marker left by a run that crashed between the marker write and
    its refit must not trigger a spurious refit on the next run — it is
    cleared at startup, and the cadence check re-signals if (and only
    if) the refit is genuinely due."""
    from awsbatch_mapreduce_spark.streaming.supervisor import _marker_path

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svm",
    )
    # one small chunk; a generous factor keeps the refit genuinely
    # not-due, so any refit would be the stale marker's doing
    chunks = tmp_path / "chunks"
    chunks.mkdir()
    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vid = table.column("vec_id")
    pq.write_table(
        table.filter(
            pc.and_(pc.greater(vid, mid), pc.less_equal(vid, mid + 20))
        ),
        str(chunks / "chunk-0.parquet"),
    )
    out = tmp_path / "out"
    out.mkdir()
    with open(_marker_path(str(out)), "w") as fh:
        fh.write('{"batch_id": 99, "n_now": 0, "n_fit": 1}')
    report = run_supervised_admission(
        spark,
        _source(spark, str(chunks)),
        SF_DIR,
        pointer,
        str(out),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=100.0,
        gen_prefix="svm",
    )
    assert report["refits"] == []
    assert not os.path.exists(_marker_path(str(out)))
    assert read_pointer(pointer).kind == "svm0000"
    # the batch itself was admitted normally (refresh: the admission
    # committed through the micro-batch's cloned session, so this
    # session's cached file listing predates it)
    mem0 = generation_layout(SF_DIR, "svm0000").members
    spark.catalog.refreshTable(mem0)
    n_seen = emb.filter(F.col("vec_id") <= F.lit(mid)).count()
    assert spark.table(mem0).count() == n_seen + 20


def test_supervised_admission_pq_keeps_adc_serving(
    spark, four_chunks, tmp_path
):
    """Round 16 (VERDICT r15 #1): a PQ-carrying generation stays
    ADC-servable across >= 2 AUTOMATIC refit cycles — codes rebuilt
    with every new generation (flag inherited), admitted batches'
    codes appended between refits, superseded generations' codes
    vacuumed — and the final ADC probe through the pointer is
    frame-identical to one clean fit + encode over everything
    admitted."""
    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svq",
        with_pq=True,
    )
    assert read_pointer(pointer).pq

    report = _run(spark, four_chunks, tmp_path, pointer, gen_prefix="svq")
    assert len(report["refits"]) >= 2, report["refits"]

    # the flag survived every automatic cutover; the current
    # generation's codes cover EVERY member (fit-time and admitted:
    # one row per member per subspace), superseded codes are gone
    kind = read_pointer(pointer).kind
    assert read_pointer(pointer).pq
    codes_tbl, pqcb_tbl = generation_layout(SF_DIR, kind).tables[3:5]
    mem_tbl = generation_layout(SF_DIR, kind).members
    n_members = spark.table(mem_tbl).count()
    assert n_members == emb.count()
    n_subspaces = spark.table(pqcb_tbl).select("sm").distinct().count()
    assert n_subspaces > 0
    assert spark.table(codes_tbl).count() == n_members * n_subspaces
    for r in report["refits"]:
        old_codes, old_pqcb = generation_layout(SF_DIR, r["old"]).tables[3:5]
        assert not spark.catalog.tableExists(old_codes), r["old"]
        assert not spark.catalog.tableExists(old_pqcb), r["old"]

    # ADC through the pointer == ADC against one clean fit + encode
    probe = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    got = sorted(
        map(
            tuple,
            probe_current_generation(
                spark, SF_DIR, pointer, probe, adc=True
            ).collect(),
        )
    )
    lay_s = build_generation(spark, SF_DIR, "svz", emb, with_pq=True)
    base_s, coarse_s, fine_s, mem_s, codes_s, pqcb_s = lay_s[:6]
    want = sorted(
        map(
            tuple,
            index_probe.probe(
                spark, probe, coarse_s, fine_s, mem_s,
                codes=codes_s, pqcb=pqcb_s,
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_adc_probe_refused_without_pq_flag(spark, tmp_path):
    """A generation without the pq flag must refuse ADC readers loudly
    (never silently fall back to the full-vector path)."""
    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svnf",
    )
    probe = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    ).limit(4)
    with pytest.raises(RuntimeError, match="no 'pq' flag"):
        probe_current_generation(spark, SF_DIR, pointer, probe, adc=True)


def test_cadence_counter_matches_counted_twin(spark, tmp_path, monkeypatch):
    """Round 16 (VERDICT r15 #2): the O(1) running cadence counter
    feeds ``refit_due`` EXACTLY the numbers the per-batch full recount
    used to — pinned by recording every (n_now, n_fit) the cadence
    check sees across fresh batches, an exact replay, and an empty
    batch, and comparing each n_now against an authoritative
    refreshed count of the members table at that moment."""
    import awsbatch_mapreduce_spark.streaming.supervisor as sup
    from awsbatch_mapreduce_spark.streaming.supervisor import (
        admit_probe_with_cadence,
    )

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    q3 = (mid + hi) // 2
    lay = build_generation(
        spark, SF_DIR, "svcnt", emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    base, coarse, fine, mem = lay[:4]
    n_fit = spark.table(mem).count()
    pointer = str(tmp_path / "ptr")
    cutover_generation(spark, SF_DIR, pointer, "svcnt", n_fit=n_fit)

    seen = []
    real_refit_due = sup.refit_due

    def recording(n_now, n_fit_, tol):
        seen.append((n_now, n_fit_))
        return real_refit_due(n_now, n_fit_, tol)

    monkeypatch.setattr(sup, "refit_due", recording)
    out = str(tmp_path / "out")
    fn = admit_probe_with_cadence(
        SF_DIR, pointer, read_pointer(pointer), out,
        tolerated_inflation=100.0,
    )
    batch0 = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", "embedding")
    batch1 = emb.filter(F.col("vec_id") > F.lit(q3)).select(
        "vec_id", "embedding"
    )

    def authoritative():
        spark.catalog.refreshTable(mem)
        return spark.table(mem).count()

    fn(batch0, 0)  # first batch: the one authoritative count
    assert seen[-1] == (authoritative(), n_fit)
    fn(batch1, 1)  # running counter takes over
    assert seen[-1] == (authoritative(), n_fit)
    fn(batch1, 1)  # exact replay: watermark no-op, counter unchanged
    assert seen[-1] == (authoritative(), n_fit)
    fn(batch1.limit(0), 2)  # empty batch: no admission, no drift
    assert seen[-1] == (authoritative(), n_fit)
    assert len(seen) == 4  # the cadence check ran after EVERY batch


def test_legacy_pointer_baseline_rewrite_preserves_pq_flag(
    spark, tmp_path
):
    """A pq-flagged pointer with NO recorded n_fit (a manual fit +
    cutover without a count) must keep its ADC capability when the
    supervisor writes the baseline back (ADVICE r15 follow-through):
    losing the flag would stop codes appends and refuse ADC readers on
    a generation that HAS codes."""
    import pyarrow.parquet as _pq

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    kind = "svpf0000"
    lay = build_generation(
        spark, SF_DIR, kind, emb.filter(F.col("vec_id") <= F.lit(mid)),
        with_pq=True,
    )
    base, coarse, fine, mem, codes, pqcb = lay[:6]
    cutover_generation(spark, SF_DIR, pointer, kind, with_pq=True)  # no n_fit
    assert read_pointer(pointer)[:2] == (kind, None)
    # ...and a serving width set by the actuator after that manual
    # cutover must ALSO survive the rewrite (ADVICE r17 medium: the
    # baseline rewrite preserved pq/cap but silently reset nprobe to
    # 1 — a pointer rewrite must never silently reset production
    # recall)

    set_generation_nprobe(pointer, 3)

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    table = _pq.read_table(f"{SF_DIR}/embeddings.parquet")
    import pyarrow.compute as _pc

    vid = table.column("vec_id")
    _pq.write_table(
        table.filter(
            _pc.and_(_pc.greater(vid, mid), _pc.less_equal(vid, mid + 20))
        ),
        str(chunks / "chunk-0.parquet"),
    )
    report = run_supervised_admission(
        spark,
        _source(spark, str(chunks)),
        SF_DIR,
        pointer,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=100.0,
        gen_prefix="svpf",
    )
    assert report["refits"] == []
    # baseline recorded AND the pq capability survived the rewrite
    kind_after, n_fit_after = read_pointer(pointer)[:2]
    assert kind_after == kind and n_fit_after is not None
    rec_after = read_pointer(pointer)
    assert rec_after.pq
    # the serving width survived too (ADVICE r17 medium)
    assert rec_after.nprobe == 3
    # the admitted batch's codes landed (admission ran codes-bound)
    spark.catalog.refreshTable(codes)
    n_subspaces = spark.table(pqcb).select("sm").distinct().count()
    spark.catalog.refreshTable(mem)
    assert (
        spark.table(codes).count()
        == spark.table(mem).count() * n_subspaces
    )


def test_recall_actuator_steps_nprobe(spark, four_chunks, tmp_path):
    """Round 16 (VERDICT r15 #3): with the actuator armed at an
    unreachable floor, every snapshot recommends one nprobe step and
    the next incarnation's QA probe RUNS at the stepped value (capped
    at recall_max_nprobe); disarmed (floor 0), recommendations stay
    put — the rule itself is pinned unit-style in
    test_streaming_codebook."""
    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svra",
    )
    report = _run(
        spark,
        four_chunks,
        tmp_path,
        pointer,
        gen_prefix="svra",
        recall_panel=16,
        recall_floor_bp=10000,  # unreachable on the fixture: always step
    )
    snaps = report.get("recall", [])
    assert len(snaps) >= 3, snaps
    # each snapshot ran at the previous one's recommendation, stepping
    # 1 -> 2 -> 3 ... capped at 4
    expect = 1
    stepped = False
    for s in snaps:
        # the closed loop: this snapshot RAN at the previous one's
        # recommendation, and its own recommendation follows the rule
        # on the real measurement
        assert s["nprobe"] == expect, snaps
        want = (
            expect + 1
            if s["vec_recall_bp"] < 10000 and expect < 4
            else expect
        )
        assert s["recommended_nprobe"] == want, snaps
        stepped = stepped or want > expect
        expect = s["recommended_nprobe"]
    assert stepped, snaps  # at least one step actually fired


def test_quality_breach_escalates_cap(spark, four_chunks, tmp_path):
    """Round 16 (cap side of the actuator): with the floor unreachable
    and the nprobe knob already exhausted (max_nprobe == starting
    nprobe), every below-floor snapshot triggers a QUALITY refit at an
    escalated cap (x4, bounded), recorded with reason 'recall' and the
    old/new caps; escalation stops by itself once the snapshot clears
    the floor (a big-enough cap makes the bounded-k0 fixture probe
    exhaustive) or the cap bound is hit.  The <= cap bound holds in
    the final generation at ITS OWN cap — admissions rank-chunk at the
    pointer's recorded capacity."""

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svqc",
    )
    assert read_pointer(pointer).cap == 16
    report = run_supervised_admission(
        spark,
        _source(spark, four_chunks),
        SF_DIR,
        pointer,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=100.0,  # growth can never trigger
        gen_prefix="svqc",
        recall_panel=16,
        recall_floor_bp=10000,  # unreachable until the probe is exhaustive
        recall_max_nprobe=1,  # nprobe knob exhausted from the start
    )
    refits = report["refits"]
    assert len(refits) >= 1, report
    assert all(r["reason"] == "recall" for r in refits), refits
    caps = [refits[0]["cap_before"]] + [r["cap_after"] for r in refits]
    assert caps[0] == 16
    assert all(b < a <= 512 for b, a in zip(caps, caps[1:])), caps
    assert read_pointer(pointer).cap == caps[-1]
    # escalation stopped for a reason: either the last snapshot cleared
    # the floor (exhaustive probe at the escalated cap) or cap maxed
    snaps = report.get("recall", [])
    last = snaps[-1]
    assert last["vec_recall_bp"] == 10000 or caps[-1] == 512, snaps
    # every signalling snapshot is marked, the final one is not
    assert all(
        s.get("cap_escalation_signalled", False) for s in snaps[:-1]
    ), snaps
    assert not last.get("cap_escalation_signalled", False), snaps
    # the <= cap bound holds in the final generation AT ITS OWN cap
    kind = read_pointer(pointer).kind
    mem_tbl = generation_layout(SF_DIR, kind).members
    spark.catalog.refreshTable(mem_tbl)
    mx = (
        spark.table(mem_tbl)
        .groupBy("cell", "sub")
        .count()
        .agg(F.max("count").alias("m"))
        .first()["m"]
    )
    assert mx <= caps[-1], (mx, caps)
    assert spark.table(mem_tbl).count() == emb.count()


def test_supervisor_recovers_from_crash_during_refit(
    spark, four_chunks, tmp_path, monkeypatch
):
    """Crash DURING the automatic sequence: the refit dies mid-build.
    The failed run must leave the pointer on the intact old
    generation; the next supervisor run must sweep the half-built
    generation, re-signal the refit at the first batch boundary,
    complete it, and finish the stream — the crashed timeline lands
    exactly where a never-crashed one would."""
    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svc",
    )

    real_refit = gen.build_generation
    crashed = []

    def crash_once(spark_, sf_dir, kind, *args, **kw):
        if not crashed:
            crashed.append(True)
            # leave a half-built generation behind: its layout swept
            # fresh, no table written
            gen.fresh_layout(spark_, sf_dir, kind)
            raise RuntimeError("injected crash mid refit")
        return real_refit(spark_, sf_dir, kind, *args, **kw)

    # the guarded refit's fit step (the supervisor's own bootstrap
    # imports the verb by name and is not affected)
    monkeypatch.setattr(gen, "build_generation", crash_once)
    with pytest.raises(RuntimeError, match="injected crash mid refit"):
        _run(spark, four_chunks, tmp_path, pointer, gen_prefix="svc")
    # pointer untouched by the crash; admitted rows are in the OLD gen
    assert read_pointer(pointer).kind == "svc0000"
    mem0 = generation_layout(SF_DIR, "svc0000").members
    n_after_crash = spark.table(mem0).count()
    assert n_after_crash > emb.filter(F.col("vec_id") <= F.lit(mid)).count()

    # recovery run (monkeypatch still active: later refits succeed)
    report = _run(spark, four_chunks, tmp_path, pointer, gen_prefix="svc")
    assert len(report["refits"]) >= 2
    kind = read_pointer(pointer).kind
    assert kind == report["refits"][-1]["new"]
    mem_tbl = generation_layout(SF_DIR, kind).members
    assert spark.table(mem_tbl).count() == emb.count()

    # equivalence with the never-crashed clean fit
    probe = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    got = sorted(
        map(
            tuple,
            probe_current_generation(spark, SF_DIR, pointer, probe).collect(),
        )
    )
    lay_s = build_generation(spark, SF_DIR, "svt", emb)
    base_s, coarse_s, fine_s, mem_s = lay_s[:4]
    want = sorted(
        map(tuple, index_probe.probe(spark, probe, coarse_s, fine_s, mem_s).collect())
    )
    assert got == want and len(got) > 0


def test_actuator_step_reaches_serving_probe(spark, four_chunks, tmp_path):
    """Round 17 (VERDICT r16 #1): a live actuator step lands on the
    POINTER, so the SERVING probe's output changes — after a supervised
    run whose snapshots stepped nprobe, ``probe_current_generation``
    returns the driver-proven rank-k multiprobe output at the stepped
    width (frame-identical to ``probe(nprobe=)``), not the
    single-probe rows the pre-round-17 readers were stuck on."""
    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svsp",
    )
    assert read_pointer(pointer).serving_nprobe == 1  # pre-step serving
    report = _run(
        spark,
        four_chunks,
        tmp_path,
        pointer,
        gen_prefix="svsp",
        recall_panel=16,
        recall_floor_bp=10000,  # unreachable: every snapshot steps
        recall_cap_max=16,  # cap side disarmed: isolate the nprobe arm
    )
    snaps = report.get("recall", [])
    assert any(s.get("nprobe_applied") for s in snaps), snaps
    served = read_pointer(pointer).serving_nprobe
    assert served >= 2  # the step is ON the pointer
    # the serving probe now RUNS the rank-k program
    kind = read_pointer(pointer).kind
    coarse, fine, mem = generation_layout(SF_DIR, kind).tables[:3]
    probe = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    got = sorted(
        map(
            tuple,
            probe_current_generation(spark, SF_DIR, pointer, probe).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            index_probe.probe(
                spark, probe, coarse, fine, mem, nprobe=served
            ).collect(),
        )
    )
    single = sorted(
        map(tuple, index_probe.probe(spark, probe, coarse, fine, mem).collect())
    )
    assert got == want and len(got) > 0
    assert got != single  # the step changed production output


def test_periodic_resnapshot_actuates_without_refit(
    spark, four_chunks, tmp_path
):
    """Round 17 (VERDICT r16 #3): with ``recall_every=1`` the snapshot
    re-arms every fresh batch, so a below-floor generation is measured
    AND actuated MID-INCARNATION — multiple snapshots land inside one
    stream segment, each running at the width the previous one applied
    to the pointer, with ZERO refits having occurred (growth trigger
    off, cap escalation disarmed)."""

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svpr",
    )
    report = run_supervised_admission(
        spark,
        _source(spark, four_chunks),
        SF_DIR,
        pointer,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=100.0,  # growth can never trigger
        gen_prefix="svpr",
        recall_panel=16,
        recall_floor_bp=10000,  # unreachable: every snapshot steps
        recall_cap_max=16,  # cap side disarmed
        recall_every=1,
    )
    assert report["refits"] == []  # the actuator fired WITHOUT a refit
    assert len(report["segments"]) == 1
    snaps = report.get("recall", [])
    assert len(snaps) >= 3, snaps  # re-armed mid-incarnation
    # the closed mid-generation loop: each snapshot RAN at the width
    # the previous one applied to the pointer
    expect = 1
    for s in snaps:
        assert s["nprobe"] == expect, snaps
        expect = s["recommended_nprobe"]
    assert read_pointer(pointer).serving_nprobe == expect
    assert expect > 1  # at least one live step, no refit anywhere


def test_quality_breach_escalates_cap_with_pq(spark, four_chunks, tmp_path):
    """Round 17 (VERDICT r16 #2): the quality escalation DRIVEN on a
    PQ-FLAGGED generation — recall-reason refits at escalated caps
    inherit the ``pq`` flag, rebuild the codes at each new cell
    geometry, and the ADC reader keeps serving through the pointer
    after every escalation."""

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svqp",
        with_pq=True,
    )
    report = run_supervised_admission(
        spark,
        _source(spark, four_chunks),
        SF_DIR,
        pointer,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=100.0,  # growth can never trigger
        gen_prefix="svqp",
        recall_panel=16,
        recall_floor_bp=10000,
        recall_max_nprobe=1,  # nprobe knob exhausted from the start
    )
    refits = report["refits"]
    assert len(refits) >= 1, report
    assert all(r["reason"] == "recall" for r in refits), refits
    caps = [refits[0]["cap_before"]] + [r["cap_after"] for r in refits]
    assert all(b < a <= 512 for b, a in zip(caps, caps[1:])), caps
    # the pq capability survived every escalated refit
    assert read_pointer(pointer).pq
    assert read_pointer(pointer).cap == caps[-1]
    kind = read_pointer(pointer).kind
    mem_tbl = generation_layout(SF_DIR, kind).members
    codes_tbl, _ = generation_layout(SF_DIR, kind).tables[3:5]
    # codes rebuilt COMPLETE at the escalated geometry: 1:1 with the
    # final generation's members on (seen_id, cell, sub).  Refresh
    # first: the admissions committed through the micro-batch's cloned
    # session, so this session's cached file listings can predate the
    # last batch's appends
    spark.catalog.refreshTable(mem_tbl)
    spark.catalog.refreshTable(codes_tbl)
    mem = spark.table(mem_tbl)
    mk = mem.select("seen_id", "cell", "sub")
    ck = spark.table(codes_tbl).select("seen_id", "cell", "sub").distinct()
    assert mk.count() == ck.count() == emb.count()
    assert mk.join(ck, ["seen_id", "cell", "sub"], "anti").count() == 0
    # and the ADC reader serves through the pointer at the new cap
    probe = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    res = probe_current_generation(spark, SF_DIR, pointer, probe, adc=True)
    assert res.count() == probe.count()


def test_zero_truth_snapshot_is_no_signal(spark, tmp_path, monkeypatch):
    """ADVICE r16 (medium): a snapshot whose sampled panel has NO true
    duplicates measured nothing — duplicate-free traffic must hold the
    current knobs, never step nprobe (no pointer write) and never
    signal a cap-escalation refit on vec_recall_bp=0."""
    import awsbatch_mapreduce_spark.streaming.supervisor as sup
    from awsbatch_mapreduce_spark.streaming.supervisor import (
        admit_probe_with_cadence,
    )

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    lay = build_generation(
        spark, SF_DIR, "svzt", emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    base, coarse, fine, mem = lay[:4]
    n_fit = spark.table(mem).count()
    pointer = str(tmp_path / "ptr")
    cutover_generation(spark, SF_DIR, pointer, "svzt", n_fit=n_fit)

    def zero_truth(*a, **kw):
        return {
            "nprobe": kw.get("nprobe", a[-1] if a else 1),
            "panel": 4,
            "n_truth_vecs": 0,
            "n_truth_pairs": 0,
            "n_detected_vecs": 0,
            "n_detected_pairs": 0,
            "vec_recall_bp": 0,
            "pair_recall_bp": 0,
        }

    monkeypatch.setattr(sup, "_recall_snapshot", zero_truth)
    fn = admit_probe_with_cadence(
        SF_DIR,
        pointer,
        read_pointer(pointer),
        str(tmp_path / "out"),
        tolerated_inflation=100.0,
        recall_panel=4,
        recall_floor_bp=10000,  # armed — but zero truth is no-signal
        can_escalate_cap=True,
    )
    batch = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", "embedding"
    )
    fn(batch, 0)  # must NOT raise RefitDueSignal (no recall breach)
    import json as _json

    with open(str(tmp_path / "out" / "_RECALL_SNAPSHOTS.jsonl")) as fh:
        snap = _json.loads(fh.readline())
    assert snap["no_signal"] is True
    assert snap["recommended_nprobe"] == 1  # knob held
    assert not snap.get("cap_escalation_signalled", False)
    assert not snap.get("nprobe_applied", False)
    assert read_pointer(pointer).serving_nprobe == 1  # no pointer write


def test_cap_escalation_resets_nprobe_arm(spark, four_chunks, tmp_path):
    """Round 17 follow-on: a QUALITY refit resets the nprobe arm to
    single-probe (base 1) — the cap escalation is the structural fix
    for the recall the nprobe steps were papering over, so the
    escalated generation must not keep paying max-nprobe probe cost
    forever.  With both knobs armed (max 2, floor unreachable,
    re-snapshot every batch) the loop alternates: step 1 -> 2, exhaust,
    escalate cap + reset to 1, re-step — every recall refit records
    nprobe_after == base and the pointer ends at the base width."""

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    bootstrap_generation(
        spark,
        SF_DIR,
        pointer,
        emb.filter(F.col("vec_id") <= F.lit(mid)),
        "svnr",
    )
    report = run_supervised_admission(
        spark,
        _source(spark, four_chunks),
        SF_DIR,
        pointer,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=100.0,  # growth can never trigger
        gen_prefix="svnr",
        recall_panel=16,
        recall_floor_bp=10000,  # unreachable: both arms keep firing
        recall_max_nprobe=2,
        recall_every=1,
    )
    refits = report["refits"]
    assert len(refits) >= 1, report
    assert all(r["reason"] == "recall" for r in refits), refits
    # every quality refit reset the serving width to the base
    assert all(r["nprobe_after"] == 1 for r in refits), refits
    assert read_pointer(pointer).serving_nprobe == 1
    assert read_pointer(pointer).cap > 16  # and the cap escalated
    # the snapshots show the alternation: each ran either at base (a
    # fresh/reset generation) or at the one step above it, never stuck
    snaps = report.get("recall", [])
    assert len(snaps) >= 3, snaps
    assert {s["nprobe"] for s in snaps} <= {1, 2}, snaps
    assert any(s["nprobe"] == 2 for s in snaps), snaps  # the step fired
    # a signalling snapshot is always at the exhausted width
    for s in snaps:
        if s.get("cap_escalation_signalled"):
            assert s["nprobe"] == 2, s


def test_deletion_fraction_triggers_compacting_refit(
    spark, four_chunks, tmp_path
):
    """Round 18 follow-on — the COMPACTION trigger: takedowns that
    tombstone more than ``max_deleted_fraction`` of a generation's
    member rows signal reason ``deletions`` at the next batch
    boundary, and the automatic refit compacts: the new generation
    excludes every tombstoned member, carries no tombstone table, and
    its recorded fit-time size is the LIVE count (pointer read-back,
    not the raw counter).  Growth is silenced (inflation 100) so the
    only trigger in play is the one under test; after the compaction
    the tombstone table is gone, so later batches admit without
    re-signalling."""

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    boot = emb.filter(F.col("vec_id") <= F.lit(mid))
    n_boot = boot.count()
    bootstrap_generation(spark, SF_DIR, pointer, boot, "svdel")
    doomed = boot.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("seen_id")
    )
    doomed_ids = sorted(r.seen_id for r in doomed.collect())
    n_doomed = tombstone_members(spark, SF_DIR, pointer, doomed)
    assert n_doomed == len(doomed_ids) > 0

    report = run_supervised_admission(
        spark,
        _source(spark, four_chunks),
        SF_DIR,
        pointer,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=100.0,  # growth can never trigger
        gen_prefix="svdel",
        max_deleted_fraction=0.2,
    )
    refits = report["refits"]
    assert len(refits) == 1 and refits[0]["reason"] == "deletions", refits
    assert refits[0]["n_tombs"] == n_doomed
    # the compacted fit-time size is the live count at the signal:
    # bootstrap + the one admitted batch (chunk-0 — the signalling
    # batch's progress never reaches recentProgress, so read the
    # fixture file), minus the tombstoned members
    rows0 = pq.read_table(os.path.join(four_chunks, "chunk-0.parquet")).num_rows
    assert refits[0]["n_fit_before"] == n_boot
    assert refits[0]["n_fit_after"] == n_boot + rows0 - n_doomed
    kind, n_fit = read_pointer(pointer)[:2]
    assert kind == refits[0]["new"] and n_fit == refits[0]["n_fit_after"]
    # the new generation carries no tombstone table (structural clear)
    assert not spark.catalog.tableExists(generation_layout(SF_DIR, kind).tombs)
    # compaction is real: the surviving index holds the whole upper
    # half (batch 0's replay is a watermark no-op, batches 1-3 admit
    # fresh) plus the bootstrap minus the tombstoned members
    mem_tbl = generation_layout(SF_DIR, kind).members
    spark.catalog.refreshTable(mem_tbl)
    mem = spark.table(mem_tbl)
    upper = emb.filter(F.col("vec_id") > F.lit(mid)).count()
    assert mem.count() == refits[0]["n_fit_after"] + upper - rows0
    assert mem.filter(F.col("seen_id").isin(doomed_ids)).count() == 0


def test_deletion_fraction_below_threshold_no_signal(
    spark, four_chunks, tmp_path
):
    """The trigger's quiet side: a deletion volume UNDER the armed
    fraction admits every batch with zero refits — the tombstone table
    survives on the (unchanged) generation, the tombstoned members
    stay excluded from the live view while remaining in the raw
    members table (takedown semantics without compaction), and the
    pointer never moves."""

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    boot = emb.filter(F.col("vec_id") <= F.lit(mid))
    bootstrap_generation(spark, SF_DIR, pointer, boot, "svdlo")
    doomed = boot.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("seen_id")
    )
    n_doomed = tombstone_members(spark, SF_DIR, pointer, doomed)
    assert n_doomed == 5

    report = run_supervised_admission(
        spark,
        _source(spark, four_chunks),
        SF_DIR,
        pointer,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
        tolerated_inflation=100.0,
        gen_prefix="svdlo",
        max_deleted_fraction=0.5,  # 5 tombstones can never reach 50%
    )
    assert report["refits"] == [], report["refits"]
    kind = read_pointer(pointer).kind
    assert kind == "svdlo0000"  # pointer never moved
    tombs_tbl = generation_layout(SF_DIR, kind).tombs
    assert spark.catalog.tableExists(tombs_tbl)
    mem_tbl = generation_layout(SF_DIR, kind).members
    spark.catalog.refreshTable(mem_tbl)
    raw = spark.table(mem_tbl)
    live = spark.table(
        live_view(spark, mem_tbl, tombs_tbl, "t18", pointer_path=pointer)
    )
    assert raw.count() - live.count() == n_doomed


def test_deletion_signal_fires_on_empty_first_batch(spark, tmp_path):
    """The deletions trigger fires on an EMPTY batch 0 (the tombstones
    predate the stream — compaction need not wait for fresh data), a
    position where the admission has not yet created the sink dir: the
    signal must create it for the marker write (caught live by the
    rate-source load run, whose first trigger tick is empty).  Growth
    and recall structurally cannot fire there — both require admitted
    batches first."""
    from awsbatch_mapreduce_spark.streaming.supervisor import (
        _marker_path,
        admit_probe_with_cadence,
        RefitDueSignal,
    )

    emb, lo, hi = _bounds(spark)
    mid = (lo + hi) // 2
    pointer = str(tmp_path / "ptr")
    boot = emb.filter(F.col("vec_id") <= F.lit(mid))
    bootstrap_generation(spark, SF_DIR, pointer, boot, "svde")
    doomed = boot.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("seen_id")
    )
    n_doomed = tombstone_members(spark, SF_DIR, pointer, doomed)

    out_dir = str(tmp_path / "never_created_out")
    assert read_pointer(pointer)[:2] == ("svde0000", boot.count())
    fn = admit_probe_with_cadence(
        SF_DIR,
        pointer,
        read_pointer(pointer),
        out_dir,
        100.0,
        max_deleted_fraction=0.2,
    )
    empty = boot.limit(0)
    with pytest.raises(RefitDueSignal, match="tombstones"):
        fn(empty, 0)
    import json as _json

    with open(_marker_path(out_dir)) as fh:
        marker = _json.load(fh)
    assert marker["reason"] == "deletions"
    assert marker["n_tombs"] == n_doomed
    assert marker["batch_id"] == 0
