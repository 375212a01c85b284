"""Cross-query invariants of the wave-13 codebook REFIT lifecycle
(VERDICT r13 #1).

Beyond the per-query DuckDB oracle (tests/test_oracle_parity.py — the
oracle IS equivalence proof (a): a from-scratch adaptive program over
the grown corpus), these pin the claims that make the refit the step
that bounds the append/streaming paths at 100 TB: the refitted fine
book collapses from the appended generations back to ceil(n/cap)-grade
(proof (b)), the <= cap member bound holds for the refitted generation,
the refit-from-members quantized path lands frame-identical to a
from-scratch fit over raw embeddings (Spark-side twin of the oracle
proof), the lifecycle is idempotent on one session, and the shared
oracle fragments of `plans/codebook_oracle.py` (the probe, split and
k0 texts) are byte-identical to the r11 driver-proven texts."""

from __future__ import annotations

import hashlib
import math
import re

from pyspark.sql import functions as F

import awsbatch_mapreduce_spark.index.generation as gen
from awsbatch_mapreduce_spark.index.generation import (
    admit_batch,
    build_generation,
    cutover_generation,
    generation_layout,
    members_corpus,
    read_pointer,
    refit_and_cutover,
    vacuum_generation,
)
from awsbatch_mapreduce_spark.plans import QUERIES
import awsbatch_mapreduce_spark.index.probe as index_probe
from awsbatch_mapreduce_spark.index.codebook import _CAP, _quantize
from awsbatch_mapreduce_spark.index.probe import _NO_PEER_BP, _SEMDEDUP_EPS_BP
from awsbatch_mapreduce_spark.plans.codebook_oracle import (
    _MID_BOUNDARY,
    _k0_sql,
    _probe_ctes,
    _split_ctes,
)
from awsbatch_mapreduce_spark.scratch import _scratch_dir
from tests.conftest import SF_BOTH, SF_DIR
from tests.conftest import plan_of as _plan
from tests.conftest import query_rows as _rows

_Q = "semdedup_codebook_refit"

# sha256 of the single-probe CTE text as driver-proven through round
# 13, recorded immediately BEFORE the round-14 refactor that made it the
# output of _probe_ctes(_MID_BOUNDARY): the parameterization must
# never drift the proven oracle text by a byte.
_PROBE_CTES_SHA = (
    "64e916b46f8423ecc4843e0127cee5c9b6860fbdff29f2258e9ed6891229d9c4"
)


def _tbl(spark, part: str, kind: str) -> str:
    tbls = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"semdedup_{kind}_{part}_")
    ]
    assert tbls, f"{kind} {part} table missing after builder ran"
    return tbls[0]


def _bounds(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2
    return mid, (mid + b.hi) // 2


# shas of the split-CTE and k0 texts as driver-proven through round
# 14, recorded immediately BEFORE the round-15 cap parameterization
# (_split_ctes(cap) / _k0_sql(cap) for the recall/cost sweep): the
# default-cap output must never drift the proven oracle text.
_SPLIT_CTES_SHA = (
    "1e0eddb273693d617132e868ac750c33592e5d66fddbb1f01e634e9c33648726"
)
_K0_SQL_SHA = (
    "497e8b632fe5ccab51e549f7388fbbc484344e7c83b77981e5ce329b5ffa43a2"
)


def test_probe_ctes_parameterization_is_byte_identical():
    def sha(text: str) -> str:
        return hashlib.sha256(text.encode()).hexdigest()

    assert (
        sha(_probe_ctes(_MID_BOUNDARY)) == _PROBE_CTES_SHA
    ), "r11 driver-proven probe-CTE text drifted"
    assert (
        sha(_split_ctes(_CAP)) == _SPLIT_CTES_SHA
    ), "r11 driver-proven split-CTE text drifted"
    assert (
        sha(_k0_sql(_CAP)) == _K0_SQL_SHA
    ), "r11 driver-proven k0 subquery text drifted"


def test_refit_cap_bound_and_index_shape(spark):
    """Refitted generation: <= cap members per fine cell BY
    CONSTRUCTION, fine book 1:1 with member (cell, sub) groups, coarse
    book exactly k0' = ceil(sqrt(ceil(n/cap))) rows for the GROWN n."""
    _rows(spark, _Q, SF_DIR)
    mem = spark.table(_tbl(spark, "members", "rft"))
    n = mem.count()
    per_cell = mem.groupBy("cell", "sub").count().agg(F.max("count")).first()[0]
    assert per_cell <= _CAP, f"fine cell over cap after refit: {per_cell}"
    fine = spark.table(_tbl(spark, "fine", "rft"))
    n_fine = fine.count()
    assert n_fine == fine.select("cell", "sub").distinct().count()
    assert n_fine == mem.select("cell", "sub").distinct().count()
    k0p = math.ceil(math.sqrt(math.ceil(n / _CAP)))
    assert spark.table(_tbl(spark, "coarse", "rft")).count() == k0p
    # and the refit consumed the whole grown corpus
    mid, q3 = _bounds(spark, SF_DIR)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert n == emb.filter(F.col("vec_id") <= F.lit(q3)).count()


def test_refit_collapses_fine_book_to_ceil_grade(spark):
    """Proof (b): pre-refit, three append generations carry one ceil
    overhead per (batch, touched cell) past the build's chunks; the
    refit lands the fine book back at ceil-grade — <= ceil(n/cap) + k0'
    rows (at most one ceil overhead per coarse cell) and strictly below
    the appended-generation count on the fixture."""
    _rows(spark, _Q, SF_DIR)
    mid, _ = _bounds(spark, SF_DIR)
    mem_a = spark.table(_tbl(spark, "members", "rfa"))
    fine_a = spark.table(_tbl(spark, "fine", "rfa")).count()
    build_chunks = (
        mem_a.filter(F.col("seen_id") <= F.lit(mid))
        .select("cell", "sub")
        .distinct()
        .count()
    )
    assert fine_a > build_chunks, "appends added no fine generations"
    mem_r = spark.table(_tbl(spark, "members", "rft"))
    n = mem_r.count()
    fine_r = spark.table(_tbl(spark, "fine", "rft")).count()
    k0p = math.ceil(math.sqrt(math.ceil(n / _CAP)))
    assert fine_r <= math.ceil(n / _CAP) + k0p, (fine_r, n, k0p)
    assert fine_r < fine_a, f"refit failed to collapse: {fine_r} vs {fine_a}"


def test_refit_from_members_equals_from_scratch_fit(spark):
    """Spark-side twin of the oracle equivalence: rebuild the index
    from RAW embeddings over the same grown corpus (float quantization
    path) and probe the same batch — frame-identical to the lifecycle's
    refit-from-members (quantized path) output, proving the members
    table is a lossless fit source."""
    lifecycle = sorted(map(tuple, _rows(spark, _Q, SF_DIR)))
    mid, q3 = _bounds(spark, SF_DIR)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    lay_s = build_generation(
        spark, SF_DIR, "rfs", emb.filter(F.col("vec_id") <= F.lit(q3))
    )
    base_s, coarse_s, fine_s, mem_s = lay_s[:4]
    probe = emb.filter(F.col("vec_id") > F.lit(q3)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    scratch = sorted(
        map(tuple, index_probe.probe(spark, probe, coarse_s, fine_s, mem_s).collect())
    )
    assert scratch == lifecycle and len(lifecycle) > 0


def test_refit_flag_consistency_and_non_vacuous(spark):
    for sf in SF_BOTH:
        rows = _rows(spark, _Q, sf)
        n_novel = sum(r["is_novel"] for r in rows)
        assert 0 < n_novel < len(rows), (sf, n_novel, len(rows))
    for r in _rows(spark, _Q, SF_DIR):
        if r["is_novel"]:
            assert r["n_seen_dups"] == 0
            assert r["max_cos_bp"] == _NO_PEER_BP
        else:
            assert r["n_seen_dups"] >= 1
            assert r["max_cos_bp"] >= _SEMDEDUP_EPS_BP


def test_refit_idempotent_on_one_session(spark):
    """Two lifecycle runs on one session must produce identical rows —
    catches read-own-writes between the appends and the refit (the
    refit's source generation must be immutable while it reads it)."""
    r1 = sorted(map(tuple, QUERIES[_Q].builder(spark, SF_DIR).collect()))
    r2 = sorted(map(tuple, QUERIES[_Q].builder(spark, SF_DIR).collect()))
    assert r1 == r2 and len(r1) > 0


_MP = "semdedup_codebook_multiprobe"


def _exact_dup_vecs(spark, sf_dir) -> set[int]:
    """Ground truth for the probe batch: new vectors with >= 1 seen
    duplicate at eps, by brute-force integer-quantized cosine over
    seen x new — the same fixed-point arithmetic as the probes, so
    'truth' and 'probe' can never disagree on a cosine value, only on
    which pairs the index let the probe see."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mid, _ = _bounds(spark, sf_dir)
    q = emb.select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    ).withColumn(
        "nn",
        F.aggregate("vq", F.lit(0).cast("bigint"), lambda a, v: a + v * v),
    )
    seen = q.filter(F.col("vec_id") <= F.lit(mid)).selectExpr(
        "vec_id AS sid", "vq AS vqs", "nn AS nns"
    )
    new = q.filter(F.col("vec_id") > F.lit(mid))
    dot = F.aggregate(
        F.zip_with(F.col("vq"), F.col("vqs"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, v: a + v,
    )
    rows = (
        new.crossJoin(seen)  # fixture-scale truth harness only
        .filter((F.col("nn") > 0) & (F.col("nns") > 0))
        .select(
            "vec_id",
            F.floor(
                dot / (F.sqrt("nn") * F.sqrt("nns")) * F.lit(10000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cos_bp"),
        )
        .filter(F.col("cos_bp") >= F.lit(_SEMDEDUP_EPS_BP))
        .select("vec_id")
        .distinct()
        .collect()
    )
    return {r["vec_id"] for r in rows}


def test_multiprobe_is_superset_of_single_probe(spark):
    """nprobe=2 row-for-row vs the single-probe adaptive variant over
    the IDENTICAL fit: primary (cell, sub) unchanged, dup counts only
    grow, novelty flags only flip novel -> seen — and non-trivially so
    on the fixture (the boundary-straddling duplicates exist)."""
    ada = {
        r["vec_id"]: r
        for r in QUERIES["semdedup_codebook_adaptive"]
        .builder(spark, SF_DIR)
        .collect()
    }
    mp = {
        r["vec_id"]: r
        for r in QUERIES[_MP].builder(spark, SF_DIR).collect()
    }
    assert set(mp) == set(ada)
    for v, m in mp.items():
        a = ada[v]
        assert (m["cell"], m["sub"]) == (a["cell"], a["sub"]), v
        assert m["n_seen_dups"] >= a["n_seen_dups"], v
        assert m["max_cos_bp"] >= a["max_cos_bp"], v
        assert m["is_novel"] <= a["is_novel"], v
    flips = sum(
        1
        for v in mp
        if ada[v]["is_novel"] == 1 and mp[v]["is_novel"] == 0
    )
    assert flips > 0, "nprobe=2 found no boundary duplicates on fixture"

    # recall vs exact truth: the second probe must strictly improve
    # vector-level dup recall on this fixture (measured r14: 0.35 ->
    # 0.54 at sf0.001) and can never exceed 1 by construction
    truth = _exact_dup_vecs(spark, SF_DIR)
    assert truth, "fixture has no true duplicates - vacuous"
    rec1 = sum(1 for v in truth if ada[v]["is_novel"] == 0) / len(truth)
    rec2 = sum(1 for v in truth if mp[v]["is_novel"] == 0) / len(truth)
    assert rec2 > rec1, (rec1, rec2)
    # no false positives anywhere: every probe hit is a true duplicate
    # (the membership check is an exact cosine, so a flagged vec MUST
    # be in the truth set)
    assert all(v in truth for v in mp if mp[v]["is_novel"] == 0)


def test_multiprobe_probe_plan_shape(spark):
    """The nprobe=2 plan since round 19: the rank-k coarse assignment
    is ONE literal-codebook expression (array_sort + slice over the
    collected bounded book, iterative.assign_topk_cells_collected) —
    no coarse scan, ZERO broadcasts, no per-rank crossJoin rounds; the
    growing fine/members scans stay exchange-free off their bucket
    specs; zero seen-side recompute (no Lloyd, no posexplode of the
    corpus — the only Generate is the bounded nprobe-length top-k
    explode on the batch side)."""
    df = QUERIES[_MP].builder(spark, SF_DIR)
    tree = _plan(df)
    assert not re.search(
        r"Scan parquet spark_catalog\.default\.semdedup_mp2_coarse_", tree
    ), "coarse book must be a collected literal, not a probe-plan scan"
    for t in ("semdedup_mp2_fine_", "semdedup_mp2_members_"):
        assert re.search(rf"Scan parquet spark_catalog\.default\.{t}", tree), t
    assert "posexplode(vq" not in tree, "corpus-side posexplode crept back"
    got = len(set(re.findall(r"BroadcastExchange \((\d+)\)", tree)))
    assert got == 0, tree[:2000]
    lines = tree.splitlines()
    for t in ("semdedup_mp2_fine_", "semdedup_mp2_members_"):
        for i, line in enumerate(lines):
            if f"Scan parquet spark_catalog.default.{t}" not in line:
                continue
            assert "Exchange" not in "\n".join(lines[max(0, i - 3) : i]), (
                f"{t} side of a probe join must not exchange:\n"
                + "\n".join(lines[max(0, i - 4) : i + 1])
            )


def test_multiprobe_flag_consistency_and_non_vacuous(spark):
    for sf in SF_BOTH:
        rows = _rows(spark, _MP, sf)
        n_novel = sum(r["is_novel"] for r in rows)
        assert 0 < n_novel < len(rows), (sf, n_novel, len(rows))
    for r in _rows(spark, _MP, SF_DIR):
        if r["is_novel"]:
            assert r["n_seen_dups"] == 0
            assert r["max_cos_bp"] == _NO_PEER_BP
        else:
            assert r["n_seen_dups"] >= 1
            assert r["max_cos_bp"] >= _SEMDEDUP_EPS_BP


def test_recall_eval_scores_are_consistent(spark):
    """The recall-eval harness must satisfy the relationships the
    probes guarantee by construction: detection never exceeds truth
    (no false positives — the membership check is an exact cosine),
    nprobe=2 detects at least what nprobe=1 does and STRICTLY more on
    this fixture (the boundary duplicates exist), and the panel is
    non-vacuous at both fixture scales."""
    for sf in SF_BOTH:
        rows = {
            r["variant"]: r
            for r in _rows(spark, "semdedup_codebook_recall_eval", sf)
        }
        assert set(rows) == {"nprobe1", "nprobe2"}, (sf, set(rows))
        r1, r2 = rows["nprobe1"], rows["nprobe2"]
        assert r1["n_truth_vecs"] == r2["n_truth_vecs"] > 0, sf
        assert r1["n_truth_pairs"] == r2["n_truth_pairs"] > 0, sf
        for r in (r1, r2):
            assert 0 < r["n_detected_vecs"] <= r["n_truth_vecs"], (sf, r)
            assert 0 < r["n_detected_pairs"] <= r["n_truth_pairs"], (sf, r)
            assert r["vec_recall_bp"] <= 10000 and r["pair_recall_bp"] <= 10000
        assert r2["n_detected_vecs"] >= r1["n_detected_vecs"], sf
        assert r2["n_detected_pairs"] > r1["n_detected_pairs"], sf
        assert r2["vec_recall_bp"] >= r1["vec_recall_bp"], sf


def test_refit_and_cutover_refuses_on_concurrent_admission(
    spark, tmp_path, monkeypatch
):
    """The guarded sequence closes the one data-loss window of the
    pointer protocol: an admission committed into the OLD generation
    while the refit runs exists only there and would be dropped at
    vacuum.  A monkeypatched refit interleaves a real admission inside
    the guard's snapshot->recount window: the sequence must refuse
    loudly and leave the pointer on the old generation; the quiesced
    retry must succeed with the late admission carried into the new
    generation — nothing lost."""
    import pytest


    pointer = str(tmp_path / "CURRENT_GENERATION")
    with pytest.raises(RuntimeError, match="nothing to refit from"):
        refit_and_cutover(spark, SF_DIR, pointer, "gda")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    mid, q3 = _bounds(spark, SF_DIR)
    lay_a = build_generation(
        spark, SF_DIR, "gda", emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    base_a, coarse_a, fine_a, mem_a = lay_a[:4]
    cutover_generation(spark, SF_DIR, pointer, "gda")
    n_before = spark.table(mem_a).count()
    late = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))

    real_refit = gen.build_generation

    def refit_then_admit(spark_, *args, **kwargs):
        lay = real_refit(spark_, *args, **kwargs)
        # the violated contract: an admission lands in the SOURCE
        # generation after the refit consumed its snapshot
        admit_batch(spark_, late, lay_a)
        return lay

    monkeypatch.setattr(gen, "build_generation", refit_then_admit)
    with pytest.raises(RuntimeError, match="grew from"):
        refit_and_cutover(spark, SF_DIR, pointer, "gdb")
    monkeypatch.setattr(gen, "build_generation", real_refit)
    # refused: pointer untouched, old generation intact with the late
    # admission, half-built gen B missing it (why the refusal matters)
    assert read_pointer(pointer).kind == "gda"
    assert spark.table(mem_a).count() == n_before + late.count()
    mem_b = generation_layout(SF_DIR, "gdb").members
    assert spark.table(mem_b).count() == n_before

    # quiesced retry: source stable for the whole sequence -> cutover
    # lands and the new generation carries the late admission
    assert refit_and_cutover(spark, SF_DIR, pointer, "gdc") == "gda"
    assert read_pointer(pointer).kind == "gdc"
    mem_c = generation_layout(SF_DIR, "gdc").members
    assert spark.table(mem_c).count() == n_before + late.count()
    assert vacuum_generation(spark, SF_DIR, pointer, "gda") == 3
    assert vacuum_generation(spark, SF_DIR, pointer, "gdb") == 3


def test_refit_and_cutover_rolls_back_pointer_on_post_swap_growth(
    spark, tmp_path, monkeypatch
):
    """The TOCTOU gap of the concurrent-admission guard (ADVICE r14):
    an admission landing AFTER the pre-swap recount but BEFORE the
    pointer swap used to be silently lost at vacuum.  The post-swap
    re-verify must catch it, roll the pointer BACK to the still-intact
    old generation, and refuse loudly; the quiesced retry must carry
    the late admission into the new generation."""
    import pytest


    pointer = str(tmp_path / "CURRENT_GENERATION")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    mid, q3 = _bounds(spark, SF_DIR)
    lay_a = build_generation(
        spark, SF_DIR, "tka", emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    base_a, coarse_a, fine_a, mem_a = lay_a[:4]
    cutover_generation(spark, SF_DIR, pointer, "tka")
    n_before = spark.table(mem_a).count()
    late = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))

    real_cutover = gen.cutover_generation
    fired = []

    def admit_then_cutover(spark_, sf_dir_, pointer_, kind_, **kw):
        # first call = the real swap: sneak an admission into the OLD
        # generation just before it (the post-recount TOCTOU window);
        # later calls (the rollback) pass straight through
        if not fired:
            fired.append(True)
            admit_batch(spark_, late, lay_a)
        return real_cutover(spark_, sf_dir_, pointer_, kind_, **kw)

    monkeypatch.setattr(gen, "cutover_generation", admit_then_cutover)
    with pytest.raises(RuntimeError, match="grew from"):
        refit_and_cutover(spark, SF_DIR, pointer, "tkb")
    monkeypatch.setattr(gen, "cutover_generation", real_cutover)
    # refused AND rolled back: pointer on the old generation, which
    # holds the late admission; gen B lacks it (why the rollback matters)
    assert read_pointer(pointer).kind == "tka"
    assert spark.table(mem_a).count() == n_before + late.count()
    mem_b = generation_layout(SF_DIR, "tkb").members
    assert spark.table(mem_b).count() == n_before

    # quiesced retry: carries the late admission into the new generation
    assert refit_and_cutover(spark, SF_DIR, pointer, "tkc") == "tka"
    assert read_pointer(pointer).kind == "tkc"
    mem_c = generation_layout(SF_DIR, "tkc").members
    assert spark.table(mem_c).count() == n_before + late.count()
    assert vacuum_generation(spark, SF_DIR, pointer, "tka") == 3
    assert vacuum_generation(spark, SF_DIR, pointer, "tkb") == 3


def test_recall_eval_zero_guard_on_degenerate_corpus(spark, tmp_path):
    """ADVICE r14: on a corpus with NO true duplicates the truth totals
    are zero — both the Spark side and the DuckDB oracle must yield
    recall 0 (not NULL, not a division-by-zero error) and stay
    hash-identical.  Fixture: one-hot vectors (all pairwise cosines 0,
    far below eps)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_utils import compare_frames

    import duckdb

    n = 16
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(
                [[1.0 if j == i else 0.0 for j in range(n)] for i in range(n)],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 3 for i in range(n)], type=pa.int32()),
        }
    )
    d = tmp_path / "degenerate"
    d.mkdir()
    pq.write_table(tbl, str(d / "embeddings.parquet"))

    spec = QUERIES["semdedup_codebook_recall_eval"]
    spark_pdf = spec.builder(spark, str(d)).toPandas()
    assert len(spark_pdf) == 2
    assert (spark_pdf["n_truth_vecs"] == 0).all()
    assert (spark_pdf["vec_recall_bp"] == 0).all()
    assert (spark_pdf["pair_recall_bp"] == 0).all()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{d}/embeddings.parquet')"
    )
    oracle_pdf = con.execute(spec.oracle).fetchdf()
    assert compare_frames(spark_pdf, oracle_pdf) == []


def test_generation_cutover_vacuum_lifecycle(spark, tmp_path):
    """The operational tail of the refit (the cutover verbs):
    fit gen A -> cutover -> probe-via-pointer == direct probe; admit a
    batch; refit-from-members into gen B -> cutover returns A; vacuum A
    reclaims exactly its three tables + data dir and is idempotent;
    vacuum of the CURRENT generation refuses; cutover to an unbuilt
    generation refuses; probing with no pointer refuses."""
    import os

    import pytest

    from awsbatch_mapreduce_spark.index.probe import probe_current_generation

    pointer = str(tmp_path / "CURRENT_GENERATION")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    mid, q3 = _bounds(spark, SF_DIR)
    batch = emb.filter(
        (F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3))
    ).select("vec_id", _quantize(F.col("embedding")).alias("vq"))
    today = emb.filter(F.col("vec_id") > F.lit(q3)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )

    with pytest.raises(RuntimeError, match="no current generation"):
        probe_current_generation(spark, SF_DIR, pointer, today)
    with pytest.raises(RuntimeError, match="do not exist"):
        cutover_generation(spark, SF_DIR, pointer, "gcx")
    assert read_pointer(pointer).kind is None

    lay_a = build_generation(
        spark, SF_DIR, "gca", emb.filter(F.col("vec_id") <= F.lit(mid))
    )
    base_a, coarse_a, fine_a, mem_a = lay_a[:4]
    assert cutover_generation(spark, SF_DIR, pointer, "gca") is None
    via_ptr = sorted(
        map(
            tuple,
            probe_current_generation(spark, SF_DIR, pointer, batch).collect(),
        )
    )
    direct = sorted(
        map(
            tuple,
            index_probe.probe(spark, batch, coarse_a, fine_a, mem_a).collect(),
        )
    )
    assert via_ptr == direct and len(direct) > 0

    # grow gen A, refit into gen B, cut over, reclaim A
    admit_batch(spark, batch, lay_a)
    coarse_b, fine_b, mem_b = build_generation(
        spark, SF_DIR, "gcb", members_corpus(spark, lay_a)
    )[1:4]
    assert cutover_generation(spark, SF_DIR, pointer, "gcb") == "gca"
    via_ptr_b = sorted(
        map(
            tuple,
            probe_current_generation(spark, SF_DIR, pointer, today).collect(),
        )
    )
    direct_b = sorted(
        map(
            tuple,
            index_probe.probe(spark, today, coarse_b, fine_b, mem_b).collect(),
        )
    )
    assert via_ptr_b == direct_b and len(direct_b) > 0

    with pytest.raises(RuntimeError, match="CURRENT"):
        vacuum_generation(spark, SF_DIR, pointer, "gcb")
    assert vacuum_generation(spark, SF_DIR, pointer, "gca") == 3
    for t in (coarse_a, fine_a, mem_a):
        assert not spark.catalog.tableExists(t), t
    assert not os.path.exists(_scratch_dir("awsbatch_semdedup_gca_idx", SF_DIR))
    assert vacuum_generation(spark, SF_DIR, pointer, "gca") == 0  # idempotent
    # the current generation still probes after the vacuum
    assert sorted(
        map(
            tuple,
            probe_current_generation(spark, SF_DIR, pointer, today).collect(),
        )
    ) == via_ptr_b
