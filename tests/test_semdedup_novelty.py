"""Cross-query invariants of the cell-sampled SemDeDup eps curve and
the persisted-codebook semantic novelty probe.

Beyond the per-query DuckDB oracle (tests/test_oracle_parity.py), the
strongest checks are against SIBLING queries: the sampled curve must
track the full curve within the measured cell-sampling tolerance (the
whole point of the estimator), and the codebook probe must show zero
seen-side recompute in its plan — the lifecycle claim that makes it
the semantic twin of ``lsh_band_index_lifecycle``.
"""

from __future__ import annotations

import re

from awsbatch_mapreduce_spark.plans import QUERIES
from awsbatch_mapreduce_spark.index.probe import _NO_PEER_BP, _SEMDEDUP_EPS_BP
from tests.conftest import SF_BOTH, SF_DIR


from tests.conftest import plan_of as _plan  # noqa: E402


from tests.conftest import query_rows as _rows  # noqa: E402


# --- semdedup_eps_curve_sampled ------------------------------------------

# Measured max |sampled - full| retention_ppm at rate 50 on the
# fixtures: 14,693 (sf0.001) / 15,463 (sf0.01).  The pipeline is
# deterministic, so 20,000 ppm (2 retention points) pins the estimator
# with modest headroom; the REJECTED doc-sampling design measured
# 189,000-326,000 ppm at comparable rates (SCALING.md round 9).
_SAMPLED_TOLERANCE_PPM = 20_000


def test_sampled_curve_tracks_full_curve_within_tolerance(spark):
    """Cell sampling is cluster sampling: no pair crosses a cell, so
    sampled cells carry their exact pair structure and the retention
    estimate is unbiased over the cell draw.  Pin the fixture-measured
    deviation at BOTH SFs."""
    for sf in SF_BOTH:
        full = {
            r["eps_bp"]: r["retention_ppm"]
            for r in _rows(spark, "semdedup_eps_retention_curve", sf)
        }
        samp = {
            r["eps_bp"]: r["retention_ppm"]
            for r in _rows(spark, "semdedup_eps_curve_sampled", sf)
        }
        assert sorted(full) == sorted(samp)
        dev = {e: abs(samp[e] - full[e]) for e in full}
        assert max(dev.values()) <= _SAMPLED_TOLERANCE_PPM, (sf, dev)


def test_sampled_curve_is_a_real_sample(spark):
    """The sample must be proper (0 < n_total < corpus), internally
    consistent, and the curve must actually move across the grid."""
    from awsbatch_mapreduce_spark.sources.tables import load_table

    for sf in SF_BOTH:
        rows = _rows(spark, "semdedup_eps_curve_sampled", sf)
        corpus = load_table(spark, sf, "embeddings").count()
        n_total = rows[0]["n_total"]
        assert 0 < n_total < corpus, (sf, n_total, corpus)
        dropped = set()
        for r in rows:
            assert r["n_total"] == n_total
            assert 0 <= r["n_dropped"] <= n_total
            assert (
                r["retention_ppm"]
                == (n_total - r["n_dropped"]) * 1_000_000 // n_total
            )
            dropped.add(r["n_dropped"])
        assert len(dropped) > 1


# --- semdedup_codebook_novelty -------------------------------------------


def test_codebook_novelty_flag_consistency(spark):
    """is_novel <=> zero seen duplicates <=> sentinel max cosine; a
    non-novel row's max duplicate cosine clears the threshold."""
    rows = _rows(spark, "semdedup_codebook_novelty", SF_DIR)
    for r in rows:
        if r["is_novel"]:
            assert r["n_seen_dups"] == 0
            assert r["max_cos_bp"] == _NO_PEER_BP
        else:
            assert r["n_seen_dups"] >= 1
            assert r["max_cos_bp"] >= _SEMDEDUP_EPS_BP


def test_codebook_novelty_non_vacuous_at_both_sfs(spark):
    """The eps=0.30 threshold must split the new batch non-trivially at
    BOTH SFs (all-novel or none-novel would pass the oracle vacuously)."""
    for sf in SF_BOTH:
        rows = _rows(spark, "semdedup_codebook_novelty", sf)
        n_novel = sum(r["is_novel"] for r in rows)
        assert 0 < n_novel < len(rows), (sf, n_novel, len(rows))


def test_codebook_probe_zero_seen_side_recompute(spark):
    """The lifecycle claim: the probe plan's seen side is a parquet
    scan of the persisted members table — no Lloyd iteration, no
    posexplode, no centroid arithmetic; the (growing) members side
    feeds the membership join with NO exchange (bucketed on cell).
    Since round 19 the bounded k-row codebook is COLLECTED at plan-
    build time and applied as a literal argmin expression
    (iterative.assign_to_cells_collected), so the probe plan carries
    NO codebook scan and NO broadcast at all — the batch side crosses
    one fewer exchange than the old broadcast-crossJoin assign."""
    df = QUERIES["semdedup_codebook_novelty"].builder(spark, SF_DIR)
    tree = _plan(df)
    assert not re.search(
        r"Scan parquet spark_catalog\.default\.semdedup_codebook_", tree
    ), "codebook must be a collected literal, not a probe-plan scan"
    assert re.search(
        r"Scan parquet spark_catalog\.default\.semdedup_members_", tree
    )
    assert "posexplode" not in tree and "Generate" not in tree
    got = len(set(re.findall(r"BroadcastExchange \((\d+)\)", tree)))
    assert got == 0, tree[:2000]
    lines = tree.splitlines()
    i = next(
        i
        for i, l in enumerate(lines)
        if "Scan parquet spark_catalog.default.semdedup_members_" in l
    )
    assert "Exchange" not in "\n".join(lines[max(0, i - 3) : i]), (
        "members side of the probe join must not exchange:\n"
        + "\n".join(lines[max(0, i - 4) : i + 1])
    )


def test_codebook_members_table_bucketed(spark):
    """The persisted members table carries an 8-bucket spec on cell, so
    the probe join reads the seen side partition-aligned from disk."""
    _rows(spark, "semdedup_codebook_novelty", SF_DIR)
    tbls = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("semdedup_members_")
    ]
    assert tbls
    ddl = spark.sql(f"DESCRIBE TABLE EXTENDED {tbls[0]}").collect()
    txt = "\n".join(f"{r.col_name} {r.data_type}" for r in ddl)
    assert "Num Buckets 8" in txt and "[`cell`]" in txt, txt


def test_codebook_novelty_idempotent_on_one_session(spark):
    """Build -> probe must rebuild identically when invoked twice on
    one vanilla session (the driver calls queries() entries twice)."""
    r1 = sorted(
        map(
            tuple,
            QUERIES["semdedup_codebook_novelty"].builder(spark, SF_DIR).collect(),
        )
    )
    r2 = sorted(
        map(
            tuple,
            QUERIES["semdedup_codebook_novelty"].builder(spark, SF_DIR).collect(),
        )
    )
    assert r1 == r2 and len(r1) > 0
