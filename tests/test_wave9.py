"""Cross-query invariants of the wave-9 family (round 8): SemDeDup
cluster-then-prune and the persisted LSH band-index lifecycle.

Beyond the per-query DuckDB oracle (tests/test_oracle_parity.py), the
strongest checks here are consistency with SIBLING queries: the
SemDeDup cluster step must agree exactly with ``kmeans_embeddings``
(shared code, shared unrolled oracle), and the persisted-index probe
must be row-identical to ``incremental_lsh_novelty``'s recompute path
(they share one oracle, so the driver proves it too — these tests
prove it locally plus pin the PLAN claims the lifecycle makes: no
seen-side shingle recompute, bucketed index scan).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.index.bands import _N_BUCKETS
from awsbatch_mapreduce_spark.plans import QUERIES
from awsbatch_mapreduce_spark.index.probe import _NO_PEER_BP, _SEMDEDUP_EPS_BP
from tests.conftest import SF_BOTH, SF_DIR


from tests.conftest import plan_of as _plan  # noqa: E402
from tests.conftest import query_rows as _rows  # noqa: E402


# --- semdedup_cluster_prune ----------------------------------------------


def test_semdedup_non_vacuous_at_both_sfs(spark):
    """The eps=0.30 threshold sits at ~p99 of the fixture's intra-cell
    cosine tail, so the prune must drop a non-trivial, non-total subset
    at BOTH SFs (a vacuous constant would pass the oracle trivially)."""
    for sf in SF_BOTH:
        rows = _rows(spark, "semdedup_cluster_prune", sf)
        n_drop = sum(r["dropped"] for r in rows)
        assert 0 < n_drop < len(rows), (sf, n_drop, len(rows))


def test_semdedup_flag_consistency(spark):
    """dropped <=> a lower-id duplicate exists <=> max_cos_bp above
    threshold; kept rows carry the sentinel and zero count."""
    rows = _rows(spark, "semdedup_cluster_prune", SF_DIR)
    for r in rows:
        if r["dropped"]:
            assert r["n_dup_lower"] >= 1
            assert r["max_cos_bp"] >= _SEMDEDUP_EPS_BP
        else:
            assert r["n_dup_lower"] == 0
            assert r["max_cos_bp"] == _NO_PEER_BP


def test_semdedup_cells_match_kmeans_embeddings(spark):
    """The cluster step IS kmeans_embeddings' (shared kmeans_fit +
    shared init): per-cell membership counts must agree exactly."""
    sem: dict[int, int] = {}
    for r in _rows(spark, "semdedup_cluster_prune", SF_DIR):
        sem[r["cell"]] = sem.get(r["cell"], 0) + 1
    km = _rows(spark, "kmeans_embeddings", SF_DIR)
    assert sem == {r["cell"]: r["n_members"] for r in km}


def test_semdedup_lowest_id_per_cell_never_dropped(spark):
    """Greedy-by-id keep rule: the minimum vec_id of every cell has no
    lower-id peer, so it can never be dropped — at least one survivor
    per cell is structural, not data-dependent."""
    rows = _rows(spark, "semdedup_cluster_prune", SF_DIR)
    lowest = {}
    for r in rows:
        if r["cell"] not in lowest or r["vec_id"] < lowest[r["cell"]]["vec_id"]:
            lowest[r["cell"]] = r
    assert lowest and all(r["dropped"] == 0 for r in lowest.values())


def test_semdedup_pair_join_is_pinned_sort_merge(spark):
    """Both sides of the intra-cell pair join are O(corpus): the only
    broadcasts in the plan are the bounded k-row cell-size frame at
    m's 3 consumption sites — never the pair or retention frames.
    (The kmeans codebook lineage broadcasts vanished in round 19: the
    fit's argmin applies the codebook as a collected literal, so the
    final assignment plan carries no broadcast at all.)"""
    tree = _plan(QUERIES["semdedup_cluster_prune"].builder(spark, SF_DIR))
    got = len(set(re.findall(r"BroadcastExchange \((\d+)\)", tree)))
    assert got == 3, tree[:2000]
    assert "SortMergeJoin" in tree


# --- semdedup_eps_retention_curve ----------------------------------------


def test_eps_curve_monotone_and_consistent_with_prune(spark):
    """Retention must be non-decreasing in eps (a looser threshold can
    only drop MORE), every count in [0, n_total], and the curve's point
    at the prune query's own eps must equal the prune's dropped count —
    the two queries share one pair pipeline, so any divergence is a
    refactor bug."""
    rows = {
        r["eps_bp"]: r
        for r in _rows(spark, "semdedup_eps_retention_curve", SF_DIR)
    }
    grid = sorted(rows)
    assert grid == [2000, 2500, 3000, 3500, 4000]
    n_total = rows[grid[0]]["n_total"]
    for lo, hi in zip(grid, grid[1:]):
        assert rows[lo]["n_dropped"] >= rows[hi]["n_dropped"]
    for r in rows.values():
        assert 0 <= r["n_dropped"] <= n_total
        assert r["retention_ppm"] == (n_total - r["n_dropped"]) * 1_000_000 // n_total
    prune_dropped = sum(
        r["dropped"] for r in _rows(spark, "semdedup_cluster_prune", SF_DIR)
    )
    assert rows[_SEMDEDUP_EPS_BP]["n_dropped"] == prune_dropped


def test_eps_curve_non_vacuous_at_both_sfs(spark):
    """The grid must straddle the fixture's cosine tail at both SFs:
    the loosest eps drops some-but-not-all, and the curve actually
    moves across the grid (no constant output)."""
    for sf in SF_BOTH:
        rows = {
            r["eps_bp"]: r["n_dropped"]
            for r in _rows(spark, "semdedup_eps_retention_curve", sf)
        }
        assert 0 < rows[2000] and len(set(rows.values())) > 1


# --- lsh_band_index_lifecycle --------------------------------------------


def test_lifecycle_row_identical_to_recompute_path(spark):
    """The persisted-index probe and the recompute path share one
    oracle; assert the row-identity directly engine-side too."""
    a = QUERIES["lsh_band_index_lifecycle"].builder(spark, SF_DIR)
    b = QUERIES["incremental_lsh_novelty"].builder(spark, SF_DIR)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_lifecycle_probe_has_no_seen_side_shingle_recompute(spark):
    """The probe plan's seen side is a scan of the bucketed index
    table: exactly ONE shingle pipeline (the new batch's) may appear —
    pinned by counting the signature groupBy's min-hash aggregates —
    and the index table scan must be present."""
    df = QUERIES["lsh_band_index_lifecycle"].builder(spark, SF_DIR)
    tree = _plan(df)
    assert re.search(r"Scan parquet spark_catalog\.default\.lsh_band_idx_", tree)
    # the band frame is localCheckpoint-ed at build time (round-19
    # ladder migration): the probe plan reads its materialized RDD, so
    # ZERO shingle pipelines may appear in the plan — strictly stronger
    # than the old "at most the one persisted pipeline" pin
    assert "Scan ExistingRDD" in tree
    sig_aggs = len(re.findall(r"partial_min\(substring\(md5", tree))
    assert sig_aggs == 0, sig_aggs


def _plan_of_bands(spark):
    from awsbatch_mapreduce_spark.operators.minhash import band_index_rows
    from awsbatch_mapreduce_spark.sources.tables import load_table

    return _plan(band_index_rows(load_table(spark, SF_DIR, "documents")))


def test_lifecycle_idempotent_on_one_session(spark):
    """Write -> append -> probe must rebuild identically when invoked
    twice on one vanilla session (the driver calls queries() entries
    repeatedly): same rows, no duplicate appends."""
    r1 = sorted(
        map(tuple, QUERIES["lsh_band_index_lifecycle"].builder(spark, SF_DIR).collect())
    )
    r2 = sorted(
        map(tuple, QUERIES["lsh_band_index_lifecycle"].builder(spark, SF_DIR).collect())
    )
    assert r1 == r2 and len(r1) > 0


def test_lifecycle_index_table_is_bucketed(spark):
    """The payoff claim: the index table carries the band index's
    bucket spec on bk, so the probe join never exchanges the (growing)
    seen side."""
    QUERIES["lsh_band_index_lifecycle"].builder(spark, SF_DIR).collect()
    tbls = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("lsh_band_idx_")
    ]
    assert tbls
    ddl = spark.sql(f"DESCRIBE TABLE EXTENDED {tbls[0]}").collect()
    txt = "\n".join(f"{r.col_name} {r.data_type}" for r in ddl)
    assert f"Num Buckets {_N_BUCKETS}" in txt and "[`bk`]" in txt, txt
