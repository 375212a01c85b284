"""Streaming TEXT near-dup admission (`streaming/lsh.py` over
`index/bands.py`) — round 18,
VERDICT r17 missing #2.

The claims under test:

- STREAM == BATCH: four doc_id-quartile micro-batches through the
  exactly-once gate produce verdicts AND a final band index
  byte-identical to the driver-gated ``lsh_admission_gate`` batch twin
  over the same corpus and boundaries;
- replays are no-ops (watermark) and the probe partitions commit
  exactly once;
- a crash INSIDE the mutation window (intent written, bands appended,
  watermark missing) is repaired on replay: the batch's bands are
  purged via the crash-safe sibling swap and the deterministic gate
  redone — the crashed timeline lands byte-identical to the
  never-crashed one;
- the purge itself restores the pre-batch index from a partial append.
"""

from __future__ import annotations

import os
import re
import time as _time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.bands import (
    _purge_batch_bands,
    create_band_index,
    probe_bands,
)
from awsbatch_mapreduce_spark.operators.minhash import band_index_rows
from awsbatch_mapreduce_spark.plans.lsh_gate import lsh_admission_gate
from awsbatch_mapreduce_spark.scratch import _scratch_dir
from awsbatch_mapreduce_spark.sources.tables import load_table
from awsbatch_mapreduce_spark.streaming.lsh import foreach_batch_lsh_admit
from tests.conftest import SF_DIR


def _edges(spark):
    docs = load_table(spark, SF_DIR, "documents")
    b = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    return docs, [b.lo - 1] + [
        b.lo + (b.hi - b.lo) * k // 4 for k in range(1, 4)
    ] + [b.hi]


@pytest.fixture(scope="module")
def doc_chunks(spark, tmp_path_factory):
    """The documents fixture split at the SAME quartile edges as the
    ``lsh_admission_gate`` batch twin, pinned increasing mtimes so
    maxFilesPerTrigger=1 delivers batch k = quartile k+1."""
    _, edges = _edges(spark)
    out = tmp_path_factory.mktemp("lsh_stream")
    table = pq.read_table(f"{SF_DIR}/documents.parquet")
    did = table.column("doc_id")
    now = _time.time()
    for i, (a, b) in enumerate(zip(edges, edges[1:])):
        chunk = table.filter(pc.and_(pc.greater(did, a), pc.less_equal(did, b)))
        p = out / f"chunk-{i}.parquet"
        pq.write_table(chunk, str(p))
        os.utime(p, (now - 40 + 10 * i, now - 40 + 10 * i))
    return str(out)


def _drain(spark, chunks_dir, fn, ckpt):
    schema = load_table(spark, SF_DIR, "documents").schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    return q


def _rows(df, drop=()):
    cols = [c for c in sorted(df.columns) if c not in drop]
    return sorted(map(tuple, df.select(*cols).collect()))


def _fresh_index(spark, name):

    base = _scratch_dir(f"awsbatch_lsh_stream_{name}", SF_DIR)
    tbl = f"lsh_stream_idx_{name}"
    create_band_index(spark, base, tbl)
    return tbl


def test_stream_gate_imports_no_query_module():
    """The streaming runtime takes the MinHash-LSH format from
    ``operators.minhash``, not from a query module: importing a query
    module for a shared helper couples the stream to a query's plan
    decisions."""
    import ast

    import awsbatch_mapreduce_spark.streaming.lsh as lsh

    with open(lsh.__file__) as fh:
        tree = ast.parse(fh.read())
    imported = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported += [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.append(node.module)
            imported += [f"{node.module}.{alias.name}" for alias in node.names]
    query_modules = [
        m
        for m in imported
        if re.match(r"awsbatch_mapreduce_spark\.plans\b", m)
    ]
    assert not query_modules, query_modules


def test_stream_gate_equals_batch_twin(spark, doc_chunks, tmp_path):
    tbl = _fresh_index(spark, "eq")
    out = str(tmp_path / "out")
    _drain(
        spark, doc_chunks, foreach_batch_lsh_admit(tbl, out),
        str(tmp_path / "ck"),
    )
    res = spark.read.parquet(out)
    # stream batch_id 0..3 == twin batch_k 1..4
    got = _rows(
        res.withColumn(
            "batch_k", (F.col("batch_id") + 1).cast("bigint")
        ).drop("batch_id")
    )
    twin = lsh_admission_gate(spark, SF_DIR)
    want = _rows(twin)
    assert got == want and len(got) > 0
    # the gate really gated: some doc was rejected, some admitted
    n_adm = sum(1 for r in want if r[2] == 1)  # cols sorted: is_admitted
    assert 0 < n_adm < len(want)
    # final index == the twin's final index (same admitted band set)
    twin_tbl = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("lsh_gate_idx_")
    ]
    assert len(twin_tbl) == 1
    assert _rows(spark.table(tbl)) == _rows(spark.table(twin_tbl[0]))


def test_stream_replay_is_noop(spark, doc_chunks, tmp_path):
    tbl = _fresh_index(spark, "rp")
    out = str(tmp_path / "out")
    fn = foreach_batch_lsh_admit(tbl, out)
    _drain(spark, doc_chunks, fn, str(tmp_path / "ck"))
    before = _rows(spark.table(tbl))
    verdicts_before = _rows(spark.read.parquet(out))
    # same checkpoint: nothing redelivers; fresh checkpoint: the
    # watermark makes every redelivered batch a committed-replay no-op
    _drain(spark, doc_chunks, fn, str(tmp_path / "ck"))
    _drain(spark, doc_chunks, fn, str(tmp_path / "ck2"))
    assert _rows(spark.table(tbl)) == before
    assert _rows(spark.read.parquet(out)) == verdicts_before


def test_crash_in_mutation_window_repairs_on_replay(
    spark, doc_chunks, tmp_path, monkeypatch
):
    """Crash position: intent written, the batch's bands fully
    appended, watermark write dies.  The replay must purge the batch's
    bands (restore the pre-batch index) and redo the gate — final
    state byte-identical to the never-crashed twin."""
    import awsbatch_mapreduce_spark.streaming.lsh as slsh

    tbl = _fresh_index(spark, "cr")
    out = str(tmp_path / "out")
    real_write = slsh._write_marker
    state = {"boomed": False}

    def wm_boom(path, batch_id, **kw):
        if (
            path.endswith("_LSH_ADMIT_WATERMARK")
            and batch_id == 1
            and not state["boomed"]
        ):
            state["boomed"] = True
            raise RuntimeError("injected crash before watermark")
        return real_write(path, batch_id, **kw)

    monkeypatch.setattr(slsh, "_write_marker", wm_boom)
    fn = foreach_batch_lsh_admit(tbl, out)
    with pytest.raises(Exception, match="injected crash"):
        _drain(spark, doc_chunks, fn, str(tmp_path / "ck"))  # dies @ b1
    assert state["boomed"]
    # the intent marker is live: the mutation window is open
    assert os.path.exists(os.path.join(out, "_LSH_ADMIT_INTENT"))
    # replay with the SAME checkpoint redelivers batch 1 and repairs
    _drain(spark, doc_chunks, fn, str(tmp_path / "ck"))
    assert not os.path.exists(os.path.join(out, "_LSH_ADMIT_INTENT"))

    # byte-equality with the never-crashed timeline
    tbl2 = _fresh_index(spark, "cw")
    out2 = str(tmp_path / "out2")
    _drain(
        spark, doc_chunks, foreach_batch_lsh_admit(tbl2, out2),
        str(tmp_path / "ck2"),
    )
    assert _rows(spark.table(tbl)) == _rows(spark.table(tbl2))
    assert _rows(spark.read.parquet(out)) == _rows(spark.read.parquet(out2))


def test_purge_restores_pre_batch_index(spark, doc_chunks, tmp_path):
    """The repair primitive in isolation: a PARTIAL append of a
    batch's bands is fully purged; untouched rows survive bit-exact."""
    docs, edges = _edges(spark)
    tbl = _fresh_index(spark, "pg")
    b0 = docs.filter(
        (F.col("doc_id") > edges[0]) & (F.col("doc_id") <= edges[1])
    )
    b1 = docs.filter(
        (F.col("doc_id") > edges[1]) & (F.col("doc_id") <= edges[2])
    )
    bands0 = band_index_rows(b0.select("doc_id", "text"))
    (
        bands0.write.bucketBy(16, "bk").sortBy("bk")
        .mode("append").saveAsTable(tbl)
    )
    before = _rows(spark.table(tbl))
    # partial append of batch 1 (odd doc_ids only — a mid-commit crash)
    bands1 = band_index_rows(b1.select("doc_id", "text"))
    partial = bands1.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    (
        partial.write.bucketBy(16, "bk").sortBy("bk")
        .mode("append").saveAsTable(tbl)
    )
    assert _rows(spark.table(tbl)) != before
    _purge_batch_bands(spark, b1.select("doc_id"), tbl)
    assert _rows(spark.table(tbl)) == before
    # idempotent: a second purge is a no-op (zero-row probe short-circuit)
    _purge_batch_bands(spark, b1.select("doc_id"), tbl)
    assert _rows(spark.table(tbl)) == before
    # and the probe still reads the bucket layout after the swap
    docs1 = bands1.select("doc_id").distinct()
    res = probe_bands(spark, bands1, tbl, docs1)
    assert res.count() == docs1.count()


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


def test_takedown_verb_removes_bands_idempotently(spark, tmp_path):
    """remove_docs_from_band_index: removed docs' bands vanish via the
    crash-safe swap, the removal is idempotent (second call finds zero
    rows and no-ops), untouched docs' bands survive bit-exact, and a
    subsequent probe no longer collides with the removed docs."""
    from awsbatch_mapreduce_spark.index.bands import (
        remove_docs_from_band_index,
    )

    docs, edges = _edges(spark)
    tbl = _fresh_index(spark, "tk")
    b0 = docs.filter(
        (F.col("doc_id") > edges[0]) & (F.col("doc_id") <= edges[1])
    )
    bands0 = band_index_rows(b0.select("doc_id", "text"))
    (
        bands0.write.bucketBy(16, "bk").sortBy("bk")
        .mode("append").saveAsTable(tbl)
    )
    doomed = b0.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select(
        "doc_id"
    )
    kept_before = _rows(
        spark.table(tbl).join(F.broadcast(doomed), "doc_id", "left_anti")
    )
    n = remove_docs_from_band_index(spark, tbl, doomed)
    assert n > 0
    # removed docs' bands gone; survivors bit-exact
    assert (
        spark.table(tbl).join(F.broadcast(doomed), "doc_id", "semi").count()
        == 0
    )
    assert _rows(spark.table(tbl)) == kept_before
    # idempotent
    assert remove_docs_from_band_index(spark, tbl, doomed) == 0
    # the removed docs stop gating: probing their OWN bands now yields
    # strictly fewer collisions than before the removal (each used to
    # at least self-match)
    doomed_bands = bands0.join(F.broadcast(doomed), "doc_id", "semi")
    res = probe_bands(
        spark, doomed_bands, tbl, doomed_bands.select("doc_id").distinct()
    )
    assert res.filter(
        (F.col("n_seen_nbrs") == 0) & (F.col("is_novel") == 1)
    ).count() > 0
