"""Stream==batch pins for the streaming codebook admission operators
(`streaming/codebook.py`).

The streaming path must be the registered batch semantics, micro-batch
by micro-batch:

- probe-only stream over N chunks == ONE batch probe of their union
  (per-row independence given the generation the pointer names);
- probe-then-admit stream == the two driver-proven registry queries,
  compositionally: batch-0 rows equal `semdedup_codebook_adaptive`'s
  output restricted to the first chunk's ids (probe against the build
  only), batch-1 rows equal `semdedup_codebook_adaptive_append`'s
  output verbatim (probe against build + first chunk admitted);
- both sinks replay-safe: the probe partition rewrites itself, the
  admission watermark makes a replayed admit a no-op.
"""

from __future__ import annotations

import os
import time as _time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import awsbatch_mapreduce_spark.index.generation as gen
from awsbatch_mapreduce_spark.index.generation import (
    _table_location,
    build_generation,
    cutover_generation,
    members_corpus,
    read_pointer,
)
from awsbatch_mapreduce_spark.plans import QUERIES
import awsbatch_mapreduce_spark.index.probe as index_probe
from awsbatch_mapreduce_spark.index.codebook import _CAP, _quantize
from awsbatch_mapreduce_spark.sources.tables import load_table
from awsbatch_mapreduce_spark.streaming.codebook import (
    _read_marker,
    _write_marker,
    foreach_batch_codebook_admit_probe,
    foreach_batch_codebook_probe,
)
from tests.conftest import SF_DIR


def _bounds(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2
    return emb, mid, (mid + b.hi) // 2


def _build_index(spark, kind: str, with_pq: bool = False):
    emb, mid, q3 = _bounds(spark)
    lay = build_generation(
        spark, SF_DIR, kind, emb.filter(F.col("vec_id") <= F.lit(mid)),
        with_pq=with_pq,
    )
    return emb, mid, q3, lay


def _admit_probe(spark, kind: str, out: str, with_pq: bool = False):
    """The probe-then-admit sink over generation ``kind``, bound to a
    pointer (beside ``out``) cut over to it."""
    pointer = f"{out}_ptr"
    cutover_generation(spark, SF_DIR, pointer, kind, with_pq=with_pq)
    return foreach_batch_codebook_admit_probe(
        SF_DIR, pointer, read_pointer(pointer), out
    )


def _crash_members_append(monkeypatch, crash):
    """Route an admission's members append (the commit point) to
    ``crash(app_members, lay)``; returns the real table writer."""
    real = gen._write_part

    def write_part(frame, lay, part, mode="overwrite"):
        if part == "members" and mode == "append":
            return crash(frame, lay)
        return real(frame, lay, part, mode)

    monkeypatch.setattr(gen, "_write_part", write_part)
    return real


@pytest.fixture(scope="module")
def emb_chunks(spark, tmp_path_factory):
    """The new half split at q3 into two parquet chunk files with
    increasing mtimes (the file source processes files in
    modification-time order), so maxFilesPerTrigger=1 yields
    batch 0 = (mid, q3], batch 1 = (q3, hi]."""
    _, mid, q3 = _bounds(spark)
    out = tmp_path_factory.mktemp("emb_stream")
    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    import pyarrow.compute as pc

    vid = table.column("vec_id")
    chunk1 = table.filter(
        pc.and_(pc.greater(vid, mid), pc.less_equal(vid, q3))
    )
    chunk2 = table.filter(pc.greater(vid, q3))
    pq.write_table(chunk1, str(out / "chunk-0.parquet"))
    pq.write_table(chunk2, str(out / "chunk-1.parquet"))
    # the file source orders by modification time: pin DISTINCT mtimes
    # explicitly instead of sleeping between writes — coarse-mtime
    # filesystems or clock skew could otherwise swap the batches and
    # flake the compositional pin (ADVICE r13)
    now = _time.time()
    os.utime(out / "chunk-0.parquet", (now - 10, now - 10))
    os.utime(out / "chunk-1.parquet", (now, now))
    return str(out)


def _drain(spark, chunks_dir, fn, ckpt):
    emb_schema = load_table(spark, SF_DIR, "embeddings").schema
    q = (
        spark.readStream.schema(emb_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)


def _rows(df, drop=("batch_id",)):
    cols = [c for c in sorted(df.columns) if c not in drop]
    return sorted(map(tuple, df.select(*cols).collect()))


def test_stream_probe_equals_batch_probe(spark, emb_chunks, tmp_path):
    """Probe-only: union of per-micro-batch probes == one batch probe
    of the whole new half against the same (pointer-named) index."""
    emb, mid, _, lay = _build_index(spark, "strm")
    coarse, fine, mem = lay[1:4]
    pointer = str(tmp_path / "ptr")
    cutover_generation(spark, SF_DIR, pointer, "strm")
    out = str(tmp_path / "probe_out")
    _drain(
        spark,
        emb_chunks,
        foreach_batch_codebook_probe(SF_DIR, pointer, out),
        str(tmp_path / "ckpt"),
    )
    got = spark.read.parquet(out)
    # both micro-batches actually fired
    assert got.select("batch_id").distinct().count() == 2
    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    want = index_probe.probe(spark, new, coarse, fine, mem)
    assert _rows(got) == _rows(want)


def test_stream_probe_replay_is_idempotent(spark, emb_chunks, tmp_path):
    """Re-invoking the probe on a replayed micro-batch rewrites its own
    batch_id partition instead of duplicating rows."""
    emb, mid, q3, lay = _build_index(spark, "strm")
    pointer = str(tmp_path / "ptr")
    cutover_generation(spark, SF_DIR, pointer, "strm")
    out = str(tmp_path / "probe_out")
    fn = foreach_batch_codebook_probe(SF_DIR, pointer, out)
    batch1 = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", "embedding")
    fn(batch1, 0)
    once = _rows(spark.read.parquet(out), drop=())
    fn(batch1, 0)  # at-least-once redelivery
    assert _rows(spark.read.parquet(out), drop=()) == once and once


def test_admit_probe_matches_registered_queries(spark, emb_chunks, tmp_path):
    """The compositional pin: the probe-then-admit stream's batch-0
    output equals the driver-proven adaptive query restricted to the
    first chunk (probe vs build only), and its batch-1 output equals
    the driver-proven append query verbatim (probe vs build + chunk-0
    admitted).  Builds are deterministic (same seen half, same mod
    init, integer arithmetic), so cross-kind comparison is exact."""
    _, mid, q3, lay = _build_index(spark, "strm2")
    coarse, fine, mem = lay[1:4]
    out = str(tmp_path / "admit_out")
    _drain(
        spark,
        emb_chunks,
        _admit_probe(spark, "strm2", out),
        str(tmp_path / "ckpt"),
    )
    got = spark.read.parquet(out)
    got0 = got.filter(F.col("batch_id") == 0)
    got1 = got.filter(F.col("batch_id") == 1)
    ada = QUERIES["semdedup_codebook_adaptive"].builder(spark, SF_DIR)
    assert _rows(got0) == _rows(ada.filter(F.col("vec_id") <= F.lit(q3)))
    app = QUERIES["semdedup_codebook_adaptive_append"].builder(spark, SF_DIR)
    assert _rows(got1) == _rows(app)
    assert got0.count() > 0 and got1.count() > 0


def test_double_admission_offsets_compose(spark, tmp_path):
    """Two sequential admissions (the multi-day path): the SECOND
    batch's sub offsets must clear the subs the FIRST admission added,
    not just the build's — per coarse cell the three generations'
    sub ranges are pairwise disjoint and the <= cap bound holds on the
    twice-grown members table."""
    emb, mid, q3, lay = _build_index(spark, "strm3")
    coarse, fine, mem = lay[1:4]
    hi = emb.agg(F.max("vec_id")).first()[0]
    q7 = (q3 + hi) // 2
    def _q(lo_ex, hi_in):
        return emb.filter(
            (F.col("vec_id") > F.lit(lo_ex)) & (F.col("vec_id") <= F.lit(hi_in))
        ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))

    gen.admit_batch(spark, _q(mid, q3), lay)
    gen.admit_batch(spark, _q(q3, q7), lay)
    m = spark.table(mem)
    per_cell = m.groupBy("cell", "sub").count().agg(F.max("count")).first()[0]
    assert per_cell <= _CAP, f"cap broken after double admission: {per_cell}"
    gens = (
        m.withColumn(
            "gen",
            F.when(F.col("seen_id") <= F.lit(mid), 0)
            .when(F.col("seen_id") <= F.lit(q3), 1)
            .otherwise(2),
        )
        .groupBy("cell", "gen")
        .agg(F.min("sub").alias("lo"), F.max("sub").alias("hi"))
    )
    rows = gens.collect()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], {})[r["gen"]] = (r["lo"], r["hi"])
    saw_three = 0
    for cell, g in by_cell.items():
        spans = [g[k] for k in sorted(g)]
        for a, b in zip(spans, spans[1:]):
            assert a[1] < b[0], (cell, g)  # strictly increasing ranges
        if len(g) == 3:
            saw_three += 1
    assert saw_three > 0, "no cell received both admissions on the fixture"
    # fine book grew consistently with the grown members
    fine_rows = spark.table(fine).select("cell", "sub").distinct().count()
    assert fine_rows == m.select("cell", "sub").distinct().count()


def test_admit_replay_skipped_by_watermark(spark, emb_chunks, tmp_path):
    """Admission mutates the index, so a replayed batch id must be a
    no-op: the members table must not grow on the second call."""
    emb, mid, q3, lay = _build_index(spark, "strm")
    coarse, fine, mem = lay[1:4]
    out = str(tmp_path / "admit_out")
    fn = _admit_probe(spark, "strm", out)
    batch1 = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", "embedding")
    fn(batch1, 0)
    n_once = spark.table(mem).count()
    results_once = _rows(spark.read.parquet(out), drop=())
    fn(batch1, 0)  # redelivered micro-batch
    assert spark.table(mem).count() == n_once
    assert _rows(spark.read.parquet(out), drop=()) == results_once


def _two_batches(emb, mid, q3):
    batch0 = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", "embedding")
    batch1 = emb.filter(F.col("vec_id") > F.lit(q3)).select(
        "vec_id", "embedding"
    )
    return batch0, batch1


def test_admit_crash_between_appends_repairs_on_replay(
    spark, tmp_path, monkeypatch
):
    """Crash window 1 (ADVICE r13): the fine append committed, the
    members append did not, the intent marker is open.  The replay must
    drop the orphaned fine rows and complete — landing the index AND
    the probe output byte-identical to a never-crashed twin."""
    emb, mid, q3, lay = _build_index(spark, "strm4")
    coarse, fine, mem = lay[1:4]
    out = str(tmp_path / "admit_out")
    fn = _admit_probe(spark, "strm4", out)
    batch0, batch1 = _two_batches(emb, mid, q3)
    fn(batch0, 0)
    fine_after_0 = spark.table(fine).count()

    def boom(app_members, lay):
        raise RuntimeError("injected crash between the appends")

    real_write_part = _crash_members_append(monkeypatch, boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        fn(batch1, 1)
    monkeypatch.setattr(gen, "_write_part", real_write_part)
    # the crashed attempt left orphaned fine rows and an open intent
    assert spark.table(fine).count() > fine_after_0
    assert _read_marker(os.path.join(out, "_ADMIT_INTENT")) == 1

    fn(batch1, 1)  # replay: detect intent -> repair -> re-run
    assert not os.path.exists(os.path.join(out, "_ADMIT_INTENT"))
    assert _read_marker(os.path.join(out, "_ADMITTED_WATERMARK")) == 1

    # never-crashed twin on a separate index generation
    _, _, _, lay_t = _build_index(spark, "strm5")
    coarse_t, fine_t, mem_t = lay_t[1:4]
    out_t = str(tmp_path / "twin_out")
    fn_t = _admit_probe(spark, "strm5", out_t)
    fn_t(batch0, 0)
    fn_t(batch1, 1)

    def tbl_rows(t):
        return sorted(map(tuple, spark.table(t).collect()))

    assert tbl_rows(mem) == tbl_rows(mem_t)
    assert tbl_rows(fine) == tbl_rows(fine_t)
    assert _rows(spark.read.parquet(out)) == _rows(spark.read.parquet(out_t))


def test_admit_crash_mid_members_commit_repairs_on_replay(
    spark, tmp_path, monkeypatch
):
    """Crash window 1b (ADVICE r14): the members append crashed MID job
    commit — the commit is a sequence of renames, so SOME but not all
    of the batch's member rows are visible.  The old any-row check
    would have misread this as committed, fast-forwarded the watermark,
    and silently dropped the rest of the batch.  The all-or-repair
    replay must purge the partial member rows, drop the orphaned fine
    rows, re-run the admission, and land the index AND probe output
    byte-identical to a never-crashed twin."""
    emb, mid, q3, lay = _build_index(spark, "strm9")
    coarse, fine, mem = lay[1:4]
    out = str(tmp_path / "admit_out")
    fn = _admit_probe(spark, "strm9", out)
    batch0, batch1 = _two_batches(emb, mid, q3)
    fn(batch0, 0)
    mem_after_0 = spark.table(mem).count()

    def partial_then_crash(app_members, lay):
        n = app_members.count()
        real_write_part(app_members.limit(n // 2), lay, "members", "append")
        raise RuntimeError("injected crash mid members commit")

    real_write_part = _crash_members_append(monkeypatch, partial_then_crash)
    with pytest.raises(RuntimeError, match="mid members commit"):
        fn(batch1, 1)
    monkeypatch.setattr(gen, "_write_part", real_write_part)
    # the crashed attempt left a PARTIAL members append + open intent
    n_partial = spark.table(mem).count()
    assert mem_after_0 < n_partial < mem_after_0 + batch1.count()
    assert _read_marker(os.path.join(out, "_ADMIT_INTENT")) == 1

    fn(batch1, 1)  # replay: partial detected -> purge -> repair -> re-run
    assert not os.path.exists(os.path.join(out, "_ADMIT_INTENT"))
    assert _read_marker(os.path.join(out, "_ADMITTED_WATERMARK")) == 1

    # never-crashed twin on a separate index generation
    _, _, _, lay_t = _build_index(spark, "strm10")
    coarse_t, fine_t, mem_t = lay_t[1:4]
    out_t = str(tmp_path / "twin_out")
    fn_t = _admit_probe(spark, "strm10", out_t)
    fn_t(batch0, 0)
    fn_t(batch1, 1)

    def tbl_rows(t):
        return sorted(map(tuple, spark.table(t).collect()))

    assert tbl_rows(mem) == tbl_rows(mem_t)
    assert tbl_rows(fine) == tbl_rows(fine_t)
    assert _rows(spark.read.parquet(out)) == _rows(spark.read.parquet(out_t))


def test_repair_swap_sweeps_stale_dirs_and_preserves_layout(
    spark, tmp_path, monkeypatch
):
    """The crash-safe sibling-swap repair (ADVICE r14): stale
    ``__repair``/``__old`` leftovers of a previously crashed repair are
    swept, the live table survives intact until the swap, and the
    repaired table keeps its bucketed layout (subsequent probes and
    admissions read it normally)."""
    emb, mid, q3, lay = _build_index(spark, "strm11")
    coarse, fine, mem = lay[1:4]
    batch0, batch1 = _two_batches(emb, mid, q3)
    q0 = batch0.select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    # orphan some fine rows for real: append the fine half only
    from awsbatch_mapreduce_spark.index.codebook import (
        assign_to_cells_collected,
    )
    from pyspark.sql.window import Window as W

    assigned = assign_to_cells_collected(q0, spark.table(coarse))
    wk = W.partitionBy("cell").orderBy(F.asc("d_fp"), F.asc("vec_id"))
    app = assigned.withColumn("rn", F.row_number().over(wk)).select(
        F.col("vec_id").alias("seen_id"),
        F.col("cell").cast("int").alias("cell"),
        # offset far past any existing sub so the injected fine rows are
        # genuine orphans (colliding (cell, sub) keys would be kept by
        # the semi-join and the repair would correctly no-op)
        (F.lit(1000) + F.floor((F.col("rn") - 1) / F.lit(_CAP)))
        .cast("int")
        .alias("sub"),
        F.col("vq").alias("vq_s"),
        F.aggregate(
            "vq", F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
        ).alias("nn_s"),
    ).localCheckpoint()
    gen._write_part(gen._fine_book(app), lay, "fine", "append")
    n_fine_grown = spark.table(fine).count()
    n_fine_clean = spark.table(mem).select("cell", "sub").distinct().count()
    assert n_fine_grown > n_fine_clean

    # stale leftovers of an earlier crashed repair beside the live data
    loc = _table_location(spark, fine)
    os.makedirs(f"{loc}__repair", exist_ok=True)
    os.makedirs(f"{loc}__old", exist_ok=True)
    with open(f"{loc}__repair/junk", "w") as fh:
        fh.write("stale")

    gen._drop_orphan_fine(spark, lay)
    assert not os.path.exists(f"{loc}__repair")
    assert not os.path.exists(f"{loc}__old")
    assert spark.table(fine).count() == n_fine_clean
    # the repaired table still serves probes (bucketed read path intact)
    res = index_probe.probe(spark, q0, coarse, fine, mem)
    assert res.count() == q0.count()


def test_repair_crash_mid_swap_completes_on_replay(
    spark, tmp_path, monkeypatch
):
    """Crash window 1c (ADVICE r15): the members REPAIR itself crashes
    between ``_swap_rewrite``'s two renames.  Spark reads the missing
    table root as an EMPTY table (not an error), so without the
    completion guard the next replay would see n_in == 0, misread
    "nothing landed", rewrite the fine book to empty against the empty
    members scan, and silently truncate the index while the real data
    sits stranded in the sibling dir.  The replay must instead COMPLETE
    the swap from the fully-written ``__repair`` sibling before any
    read-dependent decision, then repair and re-admit as usual —
    landing byte-identical to a never-crashed twin."""
    emb, mid, q3, lay = _build_index(spark, "strm12")
    coarse, fine, mem = lay[1:4]
    out = str(tmp_path / "admit_out")
    fn = _admit_probe(spark, "strm12", out)
    batch0, batch1 = _two_batches(emb, mid, q3)
    fn(batch0, 0)
    mem_after_0 = spark.table(mem).count()

    # crash #1: mid members job commit — a partial append + open intent
    def partial_then_crash(app_members, lay):
        n = app_members.count()
        real_write_part(app_members.limit(n // 2), lay, "members", "append")
        raise RuntimeError("injected crash mid members commit")

    real_write_part = _crash_members_append(monkeypatch, partial_then_crash)
    with pytest.raises(RuntimeError, match="mid members commit"):
        fn(batch1, 1)
    monkeypatch.setattr(gen, "_write_part", real_write_part)
    assert _read_marker(os.path.join(out, "_ADMIT_INTENT")) == 1

    # crash #2: the replay's members repair crashes BETWEEN the swap's
    # two renames — live location renamed away, __repair not renamed in
    real_rename = os.rename

    def rename_then_crash(src, dst):
        real_rename(src, dst)
        if dst.endswith("__old"):
            raise RuntimeError("injected crash between the swap renames")

    monkeypatch.setattr(gen.os, "rename", rename_then_crash)
    with pytest.raises(RuntimeError, match="between the swap renames"):
        fn(batch1, 1)
    monkeypatch.setattr(gen.os, "rename", real_rename)

    loc = gen._table_location(spark, mem)
    assert not os.path.isdir(loc)  # mid-swap: the live location is gone
    assert os.path.isdir(f"{loc}__repair")
    # the hazard itself, pinned: Spark surfaces the missing root as an
    # EMPTY table — exactly what would fool the n_in == 0 branch
    spark.catalog.refreshTable(mem)
    assert spark.table(mem).count() == 0

    fn(batch1, 1)  # replay: complete swap -> repair -> re-admit
    assert not os.path.exists(os.path.join(out, "_ADMIT_INTENT"))
    assert _read_marker(os.path.join(out, "_ADMITTED_WATERMARK")) == 1
    assert spark.table(mem).count() > mem_after_0

    # never-crashed twin on a separate index generation
    _, _, _, lay_t = _build_index(spark, "strm13")
    coarse_t, fine_t, mem_t = lay_t[1:4]
    out_t = str(tmp_path / "twin_out")
    fn_t = _admit_probe(spark, "strm13", out_t)
    fn_t(batch0, 0)
    fn_t(batch1, 1)

    def tbl_rows(t):
        return sorted(map(tuple, spark.table(t).collect()))

    assert tbl_rows(mem) == tbl_rows(mem_t)
    assert tbl_rows(fine) == tbl_rows(fine_t)
    assert _rows(spark.read.parquet(out)) == _rows(spark.read.parquet(out_t))


def test_recommend_nprobe_rule():
    """The recall actuator rule (round 16, VERDICT r15 #3): below the
    floor -> one step up, capped; at/above the floor -> hold; floor
    <= 0 -> disarmed."""
    from awsbatch_mapreduce_spark.streaming.codebook import recommend_nprobe

    assert recommend_nprobe(6600, 1, 8000) == 2  # below floor: step
    assert recommend_nprobe(6600, 2, 8000) == 3  # keeps stepping
    assert recommend_nprobe(6600, 4, 8000) == 4  # capped at max
    assert recommend_nprobe(6600, 2, 8000, max_nprobe=2) == 2
    assert recommend_nprobe(8000, 1, 8000) == 1  # at floor: hold
    assert recommend_nprobe(9500, 3, 8000) == 3  # above floor: hold
    assert recommend_nprobe(0, 1, 0) == 1  # disarmed
    assert recommend_nprobe(0, 1, -1) == 1  # disarmed


def test_admit_with_codes_crash_between_codes_and_members(
    spark, tmp_path, monkeypatch
):
    """Round 16: a PQ-bound admission crashes AFTER the codes append
    but BEFORE the members append (the new window the fine -> codes ->
    members ordering creates).  The replay must purge the batch's
    uncommitted codes rows alongside the orphan fine rows, then
    re-admit — landing members, fine, AND codes byte-identical to a
    never-crashed twin."""
    emb, mid, q3, lay = _build_index(spark, "strm14", with_pq=True)
    fine, mem, codes = lay.fine, lay.members, lay.codes
    out = str(tmp_path / "admit_out")
    fn = _admit_probe(spark, "strm14", out, with_pq=True)
    batch0, batch1 = _two_batches(emb, mid, q3)
    fn(batch0, 0)
    codes_after_0 = spark.table(codes).count()

    def boom(app_members, lay):
        raise RuntimeError("injected crash after the codes append")

    real_write_part = _crash_members_append(monkeypatch, boom)
    with pytest.raises(RuntimeError, match="after the codes append"):
        fn(batch1, 1)
    monkeypatch.setattr(gen, "_write_part", real_write_part)
    # the crashed attempt left the batch's codes committed (they precede
    # the members commit point) and an open intent
    spark.catalog.refreshTable(codes)
    assert spark.table(codes).count() > codes_after_0
    assert _read_marker(os.path.join(out, "_ADMIT_INTENT")) == 1

    fn(batch1, 1)  # replay: purge batch codes + orphan fine -> re-admit
    assert not os.path.exists(os.path.join(out, "_ADMIT_INTENT"))
    assert _read_marker(os.path.join(out, "_ADMITTED_WATERMARK")) == 1

    # never-crashed twin on a separate PQ-carrying generation
    _, _, _, lay_t = _build_index(spark, "strm15", with_pq=True)
    fine_t, mem_t, codes_t = lay_t.fine, lay_t.members, lay_t.codes
    out_t = str(tmp_path / "twin_out")
    fn_t = _admit_probe(spark, "strm15", out_t, with_pq=True)
    fn_t(batch0, 0)
    fn_t(batch1, 1)

    def tbl_rows(t):
        return sorted(map(tuple, spark.table(t).collect()))

    assert tbl_rows(mem) == tbl_rows(mem_t)
    assert tbl_rows(fine) == tbl_rows(fine_t)
    assert tbl_rows(codes) == tbl_rows(codes_t)
    assert _rows(spark.read.parquet(out)) == _rows(spark.read.parquet(out_t))


def test_admit_crash_after_commit_fast_forwards_watermark(spark, tmp_path):
    """Crash window 2: both appends committed but the watermark write
    never happened (intent still open).  The replay must recognize the
    batch as admitted (its rows are in the members table), fast-forward
    the watermark, and must NOT re-probe or re-admit."""
    emb, mid, q3, lay = _build_index(spark, "strm6")
    coarse, fine, mem = lay[1:4]
    out = str(tmp_path / "admit_out")
    fn = _admit_probe(spark, "strm6", out)
    batch0, batch1 = _two_batches(emb, mid, q3)
    fn(batch0, 0)
    fn(batch1, 1)
    n_mem = spark.table(mem).count()
    n_fine = spark.table(fine).count()
    results = _rows(spark.read.parquet(out), drop=())
    # reconstruct the crash position exactly: watermark rolled back,
    # intent for batch 1 open
    _write_marker(os.path.join(out, "_ADMITTED_WATERMARK"), 0)
    _write_marker(os.path.join(out, "_ADMIT_INTENT"), 1)
    fn(batch1, 1)  # replay of the committed-but-unwatermarked batch
    assert spark.table(mem).count() == n_mem, "batch re-admitted"
    assert spark.table(fine).count() == n_fine
    assert _read_marker(os.path.join(out, "_ADMITTED_WATERMARK")) == 1
    assert not os.path.exists(os.path.join(out, "_ADMIT_INTENT"))
    assert _rows(spark.read.parquet(out), drop=()) == results


def test_admit_stale_intent_cleared_and_foreign_intent_refused(
    spark, tmp_path
):
    """Crash window 3: watermark written, intent never cleared — a
    LATER batch must clear the stale marker and proceed normally.  And
    an intent for an unwatermarked batch OTHER than the delivered one
    (checkpoint/index mismatch) must refuse loudly rather than risk a
    double admission."""
    emb, mid, q3, lay = _build_index(spark, "strm7")
    coarse, fine, mem = lay[1:4]
    out = str(tmp_path / "admit_out")
    fn = _admit_probe(spark, "strm7", out)
    batch0, batch1 = _two_batches(emb, mid, q3)
    fn(batch0, 0)
    # stale intent: batch 0's watermark landed but its intent survived
    _write_marker(os.path.join(out, "_ADMIT_INTENT"), 0)
    n_mem = spark.table(mem).count()
    fn(batch1, 1)
    assert not os.path.exists(os.path.join(out, "_ADMIT_INTENT"))
    assert spark.table(mem).count() > n_mem  # batch 1 admitted normally
    # foreign pending intent: refuse
    _write_marker(os.path.join(out, "_ADMIT_INTENT"), 7)
    more = batch0.withColumn(
        "vec_id", (F.col("vec_id") + F.lit(10_000_000)).cast("bigint")
    )
    with pytest.raises(RuntimeError, match="does not match the index"):
        fn(more, 2)


def test_admission_sizing_rule_round_trips_and_matches_measurements():
    """The executable form of the SCALING.md round-14 sizing rule:
    measured keep-up/falls-behind points must land on the right side
    of the rule, and min_trigger_secs inverts admission_max_rate."""
    from awsbatch_mapreduce_spark.streaming.codebook import (
        admission_max_rate,
        min_trigger_secs,
    )

    assert admission_max_rate(5) == 0.0  # floor > trigger: no steady state
    # measured: 5000 vec/s fell behind at 5 s, kept up at 20 s; 10000
    # kept up at 30 s (19.8k vec/s processed vs 20.0k predicted ceiling)
    assert admission_max_rate(20) > 5000
    assert admission_max_rate(30) > 10000
    assert abs(admission_max_rate(30) - 20_000) < 1500
    for rate in (1000, 5000, 10000, 20000):
        t = min_trigger_secs(rate)
        assert admission_max_rate(t) == pytest.approx(rate)
    with pytest.raises(ValueError, match="unreachable"):
        min_trigger_secs(30_000)


def test_streaming_admissions_then_refit_cutover(spark, tmp_path):
    """The complete production index loop across both surfaces:
    continuous ingestion (two streamed probe-then-admit batches grow
    the persisted index) followed by the weekly reset (a refit rebuilds
    a fresh generation from the grown members table) — and a probe of the refitted generation is
    frame-identical to a from-scratch fit over everything admitted.
    Pins that the streaming-grown members table is a valid refit
    source exactly like the batch-grown one."""
    emb, mid, q3, lay = _build_index(spark, "strm8")
    coarse, fine, mem = lay[1:4]
    hi = emb.agg(F.max("vec_id")).first()[0]
    q7 = (q3 + hi) // 2
    out = str(tmp_path / "admit_out")
    fn = _admit_probe(spark, "strm8", out)
    fn(
        emb.filter(
            (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
        ).select("vec_id", "embedding"),
        0,
    )
    fn(
        emb.filter(
            (F.col("vec_id") > F.lit(q3)) & (F.col("vec_id") <= F.lit(q7))
        ).select("vec_id", "embedding"),
        1,
    )
    # weekly reset: refit a fresh generation from the streaming-grown
    # members table alone
    coarse_r, fine_r, mem_r = build_generation(
        spark, SF_DIR, "strm8r", members_corpus(spark, lay)
    )[1:4]
    # from-scratch twin over the same admitted corpus
    coarse_s, fine_s, mem_s = build_generation(
        spark, SF_DIR, "strm8s", emb.filter(F.col("vec_id") <= F.lit(q7))
    )[1:4]
    probe = emb.filter(F.col("vec_id") > F.lit(q7)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    got = _rows(index_probe.probe(spark, probe, coarse_r, fine_r, mem_r), drop=())
    want = _rows(index_probe.probe(spark, probe, coarse_s, fine_s, mem_s), drop=())
    assert got == want and len(got) > 0


def test_stream_adc_probe_equals_batch_adc_probe(
    spark, emb_chunks, tmp_path
):
    """Round 16: the pointer-resolving streaming reader's ADC path —
    N micro-batches probed through `probe_current_generation(adc=True)`
    union to exactly the one-shot batch ADC probe (per-row independence
    given a static PQ generation), and the reader REFUSES an unflagged
    generation at the batch boundary instead of silently falling back
    to the full-vector join."""
    emb, mid, q3, lay = _build_index(spark, "sadc", with_pq=True)
    coarse, fine, mem, codes, pqcb = lay[1:6]
    pointer = str(tmp_path / "ptr")

    # unflagged generation: the ADC reader must fail the batch loudly
    cutover_generation(spark, SF_DIR, pointer, "sadc")
    out_refuse = str(tmp_path / "out_refuse")
    fn = foreach_batch_codebook_probe(
        SF_DIR, pointer, out_refuse, adc=True
    )
    batch0, _ = _two_batches(emb, mid, q3)
    with pytest.raises(RuntimeError, match="no 'pq' flag"):
        fn(batch0, 0)

    # flagged generation: stream == batch, byte-identical
    cutover_generation(spark, SF_DIR, pointer, "sadc", with_pq=True)
    out = str(tmp_path / "out")
    _drain(
        spark,
        emb_chunks,
        foreach_batch_codebook_probe(SF_DIR, pointer, out, adc=True),
        str(tmp_path / "ckpt"),
    )
    got = _rows(spark.read.parquet(out))
    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    want = _rows(
        index_probe.probe(
            spark, new, coarse, fine, mem, codes=codes, pqcb=pqcb
        )
    )
    assert got == want and len(got) > 0


def test_stream_probe_pointer_cutover_mid_stream(spark, tmp_path):
    """The zero-downtime reader loop: a pointer-resolving streaming
    probe picks up a `cutover_generation` at the NEXT micro-batch with
    no stream restart — batch 0 probes generation A, the cutover lands,
    batch 1 probes generation B; each batch's rows are byte-equal to a
    direct probe of the generation that was current when it ran.  A
    replayed batch re-resolves the pointer, so its rewritten partition
    reflects the current generation (the documented at-least-once
    contract)."""
    emb, mid, q3, lay_a = _build_index(spark, "pca")
    coarse_a, fine_a, mem_a = lay_a[1:4]
    # generation B: an independent fit over the grown corpus (<= q3)
    coarse_b, fine_b, mem_b = build_generation(
        spark, SF_DIR, "pcb", emb.filter(F.col("vec_id") <= F.lit(q3))
    )[1:4]
    pointer = str(tmp_path / "CURRENT_GENERATION")
    out = str(tmp_path / "probe_out")
    fn = foreach_batch_codebook_probe(SF_DIR, pointer, out)

    cutover_generation(spark, SF_DIR, pointer, "pca")
    batch0 = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", "embedding")
    fn(batch0, 0)
    q0 = batch0.select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    want0 = index_probe.probe(spark, q0, coarse_a, fine_a, mem_a)
    got = spark.read.parquet(out)
    assert _rows(got.filter(F.col("batch_id") == 0)) == _rows(want0)

    # refit cutover lands mid-stream; the next batch reads generation B
    assert cutover_generation(spark, SF_DIR, pointer, "pcb") == "pca"
    batch1 = emb.filter(F.col("vec_id") > F.lit(q3)).select(
        "vec_id", "embedding"
    )
    fn(batch1, 1)
    q1 = batch1.select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    want1 = index_probe.probe(spark, q1, coarse_b, fine_b, mem_b)
    got = spark.read.parquet(out)
    assert _rows(got.filter(F.col("batch_id") == 1)) == _rows(want1)
    assert want0.count() > 0 and want1.count() > 0

    # replay of batch 0 AFTER the cutover: its partition is rewritten
    # against the now-current generation B
    fn(batch0, 0)
    got = spark.read.parquet(out)
    want0_b = index_probe.probe(spark, q0, coarse_b, fine_b, mem_b)
    assert _rows(got.filter(F.col("batch_id") == 0)) == _rows(want0_b)


def test_refit_cadence_rule():
    """The executable form of the measured refit cadence: due exactly
    when corpus growth since the current generation's fit exceeds the
    tolerated marginal-inflation factor (growth IS the inflation, per
    the round-14 A/B: ~21x marginal at 67x starved growth, ~1x after
    the refit)."""
    import pytest

    from awsbatch_mapreduce_spark.streaming.codebook import refit_due

    assert not refit_due(1000, 1000)  # fresh fit: never due
    assert not refit_due(2000, 1000)  # exactly at the default factor
    assert refit_due(2001, 1000)
    # the measured A/B point: 67x growth is far past ANY sane factor
    assert refit_due(67000, 1000)
    assert refit_due(67000, 1000, tolerated_inflation=10.0)
    # a generous factor defers the refit but the A/B's regime still due
    assert not refit_due(3000, 1000, tolerated_inflation=4.0)
    with pytest.raises(ValueError, match="n_fit"):
        refit_due(1000, 0)
    with pytest.raises(ValueError, match="tolerated_inflation"):
        refit_due(1000, 1000, tolerated_inflation=0.5)
