"""Cross-query invariants of the wave-14 recall/cost sweep and the
pointer-lifecycle query (round 15).

Beyond the per-query DuckDB oracles (tests/test_oracle_parity.py),
these pin the claims the sweep exists to measure and the operational
properties the lifecycle query relies on:

- recall is MONOTONE in nprobe at every cap (the rank<=r hit sets
  nest by construction — a violation means the rank exclusion or the
  union accounting broke);
- detection never exceeds truth at any point of the surface (zero
  false positives: the membership check is an exact cosine);
- the truth totals are cap-invariant (the same panel against the same
  seen half — a drift means the md5 panel stopped being deterministic);
- the generalized rank-k multiprobe at nprobe=2 is row-identical to
  the registered nprobe=2 query's semantics on the same fit (the
  round-15 generalization must not have moved the proven variant);
- the write-queries are idempotent on one session called twice (the
  driver contract: scratch tables and the pointer are rebuilt, never
  accumulated).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.plans import QUERIES
from tests.conftest import SF_BOTH, SF_DIR
from tests.conftest import query_rows as _rows

_SWEEPS = (
    "codebook_recall_sweep_cap16",
    "codebook_recall_sweep_cap64",
    "codebook_recall_sweep_cap512",
)


def test_sweep_recall_monotone_in_nprobe_and_bounded(spark):
    for sf in SF_BOTH:
        truth = None
        for q in _SWEEPS:
            rows = {r["nprobe"]: r for r in _rows(spark, q, sf)}
            assert set(rows) == {1, 2, 4}, (sf, q, set(rows))
            tv, tp = rows[1]["n_truth_vecs"], rows[1]["n_truth_pairs"]
            assert tv > 0 and tp > 0, (sf, q, "vacuous truth")
            if truth is None:
                truth = (tv, tp)
            else:
                # same panel, same seen half -> cap-invariant truth
                assert (tv, tp) == truth, (sf, q, truth, (tv, tp))
            prev = None
            for np_ in (1, 2, 4):
                r = rows[np_]
                assert r["n_truth_vecs"] == tv and r["n_truth_pairs"] == tp
                assert 0 <= r["n_detected_vecs"] <= tv, (sf, q, np_)
                assert 0 <= r["n_detected_pairs"] <= tp, (sf, q, np_)
                assert r["vec_recall_bp"] <= 10000
                assert r["pair_recall_bp"] <= 10000
                if prev is not None:
                    assert r["n_detected_vecs"] >= prev["n_detected_vecs"]
                    assert r["n_detected_pairs"] >= prev["n_detected_pairs"]
                prev = r


def test_sweep_widened_nprobe_is_non_vacuous(spark):
    """At the tight fixture cap the extra probes must actually find
    boundary duplicates — nprobe=4 strictly above nprobe=1 on pairs
    (if this goes vacuous the sweep no longer measures anything)."""
    rows = {r["nprobe"]: r for r in _rows(spark, _SWEEPS[0], SF_DIR)}
    assert rows[4]["n_detected_pairs"] > rows[1]["n_detected_pairs"]
    assert rows[4]["n_detected_vecs"] > rows[1]["n_detected_vecs"]


def test_generalized_multiprobe_matches_registered_variant(spark):
    """The probe operator at nprobe=2 on the registered query's own
    fit must reproduce the driver-proven `semdedup_codebook_multiprobe`
    rows exactly — the round-15 rank-k generalization (array-exclusion
    argmin chain instead of the fixed second-argmin) may not move the
    proven variant by a row."""
    from awsbatch_mapreduce_spark.index.codebook import _quantize
    from awsbatch_mapreduce_spark.index.probe import probe

    want = sorted(
        map(
            tuple,
            QUERIES["semdedup_codebook_multiprobe"]
            .builder(spark, SF_DIR)
            .collect(),
        )
    )
    # the builder just (re)built the mp2 tables; probe them directly
    tbls = {
        part: next(
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith(f"semdedup_mp2_{part}_")
        )
        for part in ("coarse", "fine", "members")
    }
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2
    new = emb.filter(F.col("vec_id") > F.lit(mid)).select(
        "vec_id", _quantize(F.col("embedding")).alias("vq")
    )
    got = sorted(
        map(
            tuple,
            probe(
                spark, new, tbls["coarse"], tbls["fine"], tbls["members"],
                nprobe=2,
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_pq_rerank_is_subset_of_full_probe_with_measured_recall(spark):
    """The PQ trade, pinned: the re-rank probe runs on the IDENTICAL
    fit as `semdedup_codebook_adaptive` (same seen half, same mod
    init — deterministic), so rows are comparable per vec_id.  The ADC
    prefilter can only LOSE duplicates (the verdict cosine is exact on
    full vectors, candidates capped at the re-rank width), never invent
    them: per vec, same (cell, sub), n_seen_dups <= min(full count,
    rerank width), max_cos_bp never higher, novelty flags only flip
    seen -> novel.  And the recall cost is a measured number, not a
    hope: most of the full probe's dup verdicts must survive on the
    fixture."""
    from awsbatch_mapreduce_spark.index.probe import _PQ_RERANK

    full = {
        r["vec_id"]: r
        for r in _rows(spark, "semdedup_codebook_adaptive", SF_DIR)
    }
    pq = {
        r["vec_id"]: r for r in _rows(spark, "codebook_pq_rerank_probe", SF_DIR)
    }
    assert set(pq) == set(full)
    flips = 0
    for v, p in pq.items():
        f = full[v]
        assert (p["cell"], p["sub"]) == (f["cell"], f["sub"]), v
        assert p["n_seen_dups"] <= min(f["n_seen_dups"], _PQ_RERANK), v
        assert p["max_cos_bp"] <= f["max_cos_bp"], v
        assert p["is_novel"] >= f["is_novel"], v
        if p["is_novel"] == 1 and f["is_novel"] == 0:
            flips += 1
    dup_full = [v for v in full if full[v]["is_novel"] == 0]
    dup_pq = [v for v in pq if pq[v]["is_novel"] == 0]
    assert dup_full, "fixture has no duplicates - vacuous"
    recall = len(dup_pq) / len(dup_full)
    # the ADC prefilter with exact re-rank retains most dup verdicts
    # (measured 0.797 = 59/74 at the deliberately tight cap=16 /
    # rerank=4 fixture point — R/cap = 25%; production sizes R to the
    # recall budget); a collapse below the measured floor means the
    # codes or the distance tables broke
    assert recall >= 0.75, (recall, len(dup_pq), len(dup_full))


def test_pq_rerank_plan_reads_codes_without_exchange(spark):
    """The scale claim: the ADC membership join reads the bucketed
    CODES table exchange-free, and the members table (full vectors,
    read only for the bounded top-R re-rank fetch) likewise joins on
    its own (cell, sub) bucket keys with no exchange above its scan —
    the corpus-scale sides never shuffle in the probe.  (The only
    posexplode in the plan is over the PROBE BATCH for the per-vector
    distance tables — batch-scaled by construction; the PQ codebook is
    the persisted bounded table, never recomputed from members.)"""
    import re

    from tests.conftest import plan_of

    df = QUERIES["codebook_pq_rerank_probe"].builder(spark, SF_DIR)
    tree = plan_of(df)
    lines = tree.splitlines()
    for t in ("semdedup_pqm_codes_", "semdedup_pqm_members_"):
        assert re.search(
            rf"Scan parquet spark_catalog\.default\.{t}", tree
        ), t
        for i, line in enumerate(lines):
            if f"Scan parquet spark_catalog.default.{t}" not in line:
                continue
            assert "Exchange" not in "\n".join(lines[max(0, i - 3) : i]), (
                f"{t} probe-side scan must not exchange:\n"
                + "\n".join(lines[max(0, i - 4) : i + 1])
            )


def test_pointer_lifecycle_idempotent_on_one_session(spark):
    """Two runs on one session must produce identical rows: the pointer
    file, both generations, and the vacuum must rebuild cleanly (the
    driver contract for write-queries)."""
    r1 = sorted(
        map(
            tuple,
            QUERIES["codebook_pointer_lifecycle"].builder(spark, SF_DIR).collect(),
        )
    )
    r2 = sorted(
        map(
            tuple,
            QUERIES["codebook_pointer_lifecycle"].builder(spark, SF_DIR).collect(),
        )
    )
    assert r1 == r2 and len(r1) > 0


def test_pointer_lifecycle_matches_refit_query(spark):
    """The operational path and the wave-13 refit query share the
    from-scratch oracle, so their outputs must agree row-for-row —
    proving the pointer indirection + cutover + vacuum change nothing
    a reader sees (the claim the shared oracle encodes)."""
    via_pointer = sorted(map(tuple, _rows(spark, "codebook_pointer_lifecycle", SF_DIR)))
    refit = sorted(map(tuple, _rows(spark, "semdedup_codebook_refit", SF_DIR)))
    assert via_pointer == refit and len(refit) > 0
