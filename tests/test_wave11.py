"""Cross-query invariants of the wave-11 capacity-bounded semantic
codebook (VERDICT r10 #1).

Beyond the per-query DuckDB oracle (tests/test_oracle_parity.py), the
claims that make this query the 100 TB path are pinned directly:
members-per-fine-cell <= cap BY CONSTRUCTION, fit-time index growth
(fine cells = sum(ceil(cell/cap))), zero seen-side recompute in the
probe plan, and the recall relationship to the fixed-k twin (the
capacity probe's hit set is a SUBSET of the fixed-k probe's — the
split cedes sub-cell-straddling duplicates, nothing else).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.plans import QUERIES
from awsbatch_mapreduce_spark.index.probe import _NO_PEER_BP, _SEMDEDUP_EPS_BP
from awsbatch_mapreduce_spark.index.codebook import _CAP
from tests.conftest import SF_BOTH, SF_DIR
from tests.conftest import plan_of as _plan
from tests.conftest import query_rows as _rows


def _members_table(spark, kind: str = "cap") -> str:
    tbls = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"semdedup_{kind}_members_")
    ]
    assert tbls, f"{kind} members table missing after builder ran"
    return tbls[0]


def test_capacity_members_per_fine_cell_hard_capped(spark):
    """The asked-for pin: NO fine cell of the persisted index exceeds
    the cap — guaranteed by the rank-chunk split, unlike plain Lloyd
    with k = ceil(n/cap), which bounds only the MEAN cell size."""
    _rows(spark, "semdedup_codebook_capacity", SF_DIR)
    mem = spark.table(_members_table(spark))
    per_cell = mem.groupBy("cell", "sub").count().agg(F.max("count")).first()[0]
    assert per_cell <= _CAP, f"fine cell over cap: {per_cell} > {_CAP}"


def test_capacity_index_grows_with_corpus_at_fit_time(spark):
    """k = ceil(n/cap) at fit time: total fine cells equals
    sum(ceil(coarse_cell_size/cap)) — the ceil-grade n/cap — and
    strictly exceeds the fixed coarse k, so the index size is a
    function of the corpus, not a constant."""
    _rows(spark, "semdedup_codebook_capacity", SF_DIR)
    mem = spark.table(_members_table(spark))
    sizes = {r["cell"]: r["n"] for r in
             mem.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    fine_cells = mem.select("cell", "sub").distinct().count()
    assert fine_cells == sum(math.ceil(n / _CAP) for n in sizes.values())
    assert fine_cells > len(sizes)  # grew past the fixed coarse k
    n_seen = sum(sizes.values())
    assert fine_cells >= math.ceil(n_seen / _CAP)  # ceil-grade n/cap


def test_capacity_flag_consistency(spark):
    """is_novel <=> zero seen duplicates <=> sentinel max cosine."""
    for r in _rows(spark, "semdedup_codebook_capacity", SF_DIR):
        if r["is_novel"]:
            assert r["n_seen_dups"] == 0
            assert r["max_cos_bp"] == _NO_PEER_BP
        else:
            assert r["n_seen_dups"] >= 1
            assert r["max_cos_bp"] >= _SEMDEDUP_EPS_BP


def test_capacity_non_vacuous_at_both_sfs(spark):
    for sf in SF_BOTH:
        rows = _rows(spark, "semdedup_codebook_capacity", sf)
        n_novel = sum(r["is_novel"] for r in rows)
        assert 0 < n_novel < len(rows), (sf, n_novel, len(rows))


def test_capacity_hits_are_subset_of_fixed_k_hits(spark):
    """The split's only semantic cost: a new vector is checked against
    its fine cell's <= cap members instead of its whole coarse cell.
    Coarse assignment is bit-identical between the twins (same c5
    arithmetic), so every capacity hit is a fixed-k hit, per-vector
    duplicate counts can only shrink, and recall (non-novel agreement)
    is pinned at its fixture-measured floor."""
    fixed = {r["vec_id"]: r for r in
             _rows(spark, "semdedup_codebook_novelty", SF_DIR)}
    cap = {r["vec_id"]: r for r in
           _rows(spark, "semdedup_codebook_capacity", SF_DIR)}
    assert sorted(fixed) == sorted(cap)
    for vid, c in cap.items():
        f = fixed[vid]
        assert c["cell"] == f["cell"], (vid, c["cell"], f["cell"])
        assert c["n_seen_dups"] <= f["n_seen_dups"]
        if not c["is_novel"]:
            assert not f["is_novel"], f"capacity hit not in fixed-k: {vid}"
            assert c["max_cos_bp"] <= f["max_cos_bp"]
    f_dups = sum(1 for r in fixed.values() if not r["is_novel"])
    c_dups = sum(1 for r in cap.values() if not r["is_novel"])
    # fixture-measured recall of the capacity probe vs the fixed-k
    # probe's duplicate set: 91/117 = 0.778 (sf0.001), 85/103 = 0.825
    # (sf0.01) at cap=16 — the deliberately tight fixture cap splits
    # 18-40-member cells 2-3 ways; production caps (512) cede far
    # less.  Deterministic pipeline -> exact floor just under the
    # measured minimum.
    assert c_dups >= 0.75 * f_dups, (c_dups, f_dups)


def test_capacity_probe_zero_seen_side_recompute(spark):
    """The probe plan's seen side is parquet scans of the persisted
    fine/members tables — no Lloyd iteration, no posexplode, no
    centroid arithmetic.  Since round 19 the bounded k0-row coarse
    codebook is COLLECTED at plan-build time and applied as a literal
    argmin (iterative.assign_to_cells_collected), so the probe plan
    carries NO coarse scan and NO broadcast at all; the GROWING fine
    and members sides stay sort-merge, reading their bucket specs with
    no exchange."""
    df = QUERIES["semdedup_codebook_capacity"].builder(spark, SF_DIR)
    tree = _plan(df)
    assert not re.search(
        r"Scan parquet spark_catalog\.default\.semdedup_cap_coarse_", tree
    ), "coarse book must be a collected literal, not a probe-plan scan"
    for t in ("semdedup_cap_fine_", "semdedup_cap_members_"):
        assert re.search(rf"Scan parquet spark_catalog\.default\.{t}", tree), t
    assert "posexplode" not in tree and "Generate" not in tree
    got = len(set(re.findall(r"BroadcastExchange \((\d+)\)", tree)))
    assert got == 0, tree[:2000]
    lines = tree.splitlines()
    for t in ("semdedup_cap_fine_", "semdedup_cap_members_"):
        i = next(
            i
            for i, l in enumerate(lines)
            if f"Scan parquet spark_catalog.default.{t}" in l
        )
        assert "Exchange" not in "\n".join(lines[max(0, i - 3) : i]), (
            f"{t} side of a probe join must not exchange:\n"
            + "\n".join(lines[max(0, i - 4) : i + 1])
        )


def test_capacity_members_table_bucketed_on_fine_cell(spark):
    """The persisted members table is bucketed on (cell, sub) — the
    membership join's exact keys — so the grown seen side reads
    partition-aligned from disk, forever exchange-free."""
    _rows(spark, "semdedup_codebook_capacity", SF_DIR)
    ddl = spark.sql(
        f"DESCRIBE TABLE EXTENDED {_members_table(spark)}"
    ).collect()
    txt = "\n".join(f"{r.col_name} {r.data_type}" for r in ddl)
    assert "Num Buckets 8" in txt and "[`cell`, `sub`]" in txt, txt


def test_adaptive_coarse_width_is_fit_time_formula(spark):
    """The adaptive variant's defining property: the COARSE book is no
    longer a fixed label count — it has exactly k0 =
    ceil(sqrt(ceil(n_seen/cap))) rows, recomputed from the corpus at
    fit time (deterministic mod-init keeps every residue class
    populated through Lloyd at the fixture, so the pin is exact)."""
    _rows(spark, "semdedup_codebook_adaptive", SF_DIR)
    mem = spark.table(_members_table(spark, "ada"))
    n_seen = mem.count()
    k0 = math.ceil(math.sqrt(math.ceil(n_seen / _CAP)))
    coarse = spark.table(
        _members_table(spark, "ada").replace("_members_", "_coarse_")
    )
    assert coarse.count() == k0, (coarse.count(), k0)
    assert mem.select("cell").distinct().count() == k0


def test_adaptive_members_per_fine_cell_hard_capped(spark):
    """Same rank-chunk guarantee as the capacity twin: no fine cell of
    the adaptive index exceeds the cap."""
    _rows(spark, "semdedup_codebook_adaptive", SF_DIR)
    mem = spark.table(_members_table(spark, "ada"))
    per_cell = mem.groupBy("cell", "sub").count().agg(F.max("count")).first()[0]
    assert per_cell <= _CAP, f"fine cell over cap: {per_cell} > {_CAP}"
    fine_cells = mem.select("cell", "sub").distinct().count()
    assert fine_cells >= math.ceil(mem.count() / _CAP)


def test_adaptive_flag_consistency_and_non_vacuous(spark):
    for sf in SF_BOTH:
        rows = _rows(spark, "semdedup_codebook_adaptive", sf)
        n_novel = sum(r["is_novel"] for r in rows)
        assert 0 < n_novel < len(rows), (sf, n_novel, len(rows))
    for r in _rows(spark, "semdedup_codebook_adaptive", SF_DIR):
        if r["is_novel"]:
            assert r["n_seen_dups"] == 0
            assert r["max_cos_bp"] == _NO_PEER_BP
        else:
            assert r["n_seen_dups"] >= 1
            assert r["max_cos_bp"] >= _SEMDEDUP_EPS_BP


def test_adaptive_probe_zero_seen_side_recompute(spark):
    """The shared `_build_probe` layout holds for the adaptive index:
    seen side = parquet scans of the ada fine/members tables, the
    coarse book a collected literal (round 19 — no coarse scan, zero
    broadcasts), growing sides exchange-free."""
    df = QUERIES["semdedup_codebook_adaptive"].builder(spark, SF_DIR)
    tree = _plan(df)
    assert not re.search(
        r"Scan parquet spark_catalog\.default\.semdedup_ada_coarse_", tree
    ), "coarse book must be a collected literal, not a probe-plan scan"
    for t in ("semdedup_ada_fine_", "semdedup_ada_members_"):
        assert re.search(rf"Scan parquet spark_catalog\.default\.{t}", tree), t
    assert "posexplode" not in tree and "Generate" not in tree
    got = len(set(re.findall(r"BroadcastExchange \((\d+)\)", tree)))
    assert got == 0, tree[:2000]
    lines = tree.splitlines()
    for t in ("semdedup_ada_fine_", "semdedup_ada_members_"):
        i = next(
            i
            for i, l in enumerate(lines)
            if f"Scan parquet spark_catalog.default.{t}" in l
        )
        assert "Exchange" not in "\n".join(lines[max(0, i - 3) : i]), (
            f"{t} side of a probe join must not exchange:\n"
            + "\n".join(lines[max(0, i - 4) : i + 1])
        )


def test_adaptive_members_table_bucketed_on_fine_cell(spark):
    _rows(spark, "semdedup_codebook_adaptive", SF_DIR)
    ddl = spark.sql(
        f"DESCRIBE TABLE EXTENDED {_members_table(spark, 'ada')}"
    ).collect()
    txt = "\n".join(f"{r.col_name} {r.data_type}" for r in ddl)
    assert "Num Buckets 8" in txt and "[`cell`, `sub`]" in txt, txt


def test_capacity_idempotent_on_one_session(spark):
    """Build -> probe must rebuild identically when invoked twice on
    one vanilla session (the driver calls queries() entries twice)."""
    r1 = sorted(
        map(
            tuple,
            QUERIES["semdedup_codebook_capacity"].builder(spark, SF_DIR).collect(),
        )
    )
    r2 = sorted(
        map(
            tuple,
            QUERIES["semdedup_codebook_capacity"].builder(spark, SF_DIR).collect(),
        )
    )
    assert r1 == r2 and len(r1) > 0
