"""Cross-query invariants of the wave-7 observability/QA family.

Each wave-7 query *instruments* another query's scale behavior, so the
strongest correctness check beyond the per-query DuckDB oracle
(tests/test_oracle_parity.py) is consistency BETWEEN the instrument
and the thing it measures: the band-load histogram must account for
exactly the candidate pairs the dedup pipeline generates, the df-cap
curve must be monotone in the cap, the threshold curve must sum to the
exact pair count, and recall can never exceed 100%.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.plans import QUERIES
from tests.conftest import SF_DIR


def _rows(spark, name, sf_dir=SF_DIR):
    return QUERIES[name].builder(spark, sf_dir).collect()


def test_band_load_candidate_volume_bounds_calibration_pairs(spark):
    """sum(candidate_pairs) over the band-load histogram counts banded
    pairs WITH multiplicity (a pair colliding in k bands is counted k
    times); minhash_calibration scores each distinct candidate pair
    once.  So hist-sum >= distinct-pairs, and both are nonzero on the
    fixture (the probe can't be vacuous)."""
    hist = _rows(spark, "lsh_band_load_histogram")
    with_mult = sum(r["candidate_pairs"] for r in hist)
    distinct_pairs = sum(r["n_pairs"] for r in _rows(spark, "minhash_calibration"))
    assert with_mult >= distinct_pairs > 0


def test_calibration_pairs_superset_of_dedup_verified_pairs(spark):
    """The calibration keeps zero-overlap candidates that the dedup
    query's inner verify join drops, so its pair count must be >= the
    dedup output, with equality only if no candidate had empty
    intersection."""
    n_cal = sum(r["n_pairs"] for r in _rows(spark, "minhash_calibration"))
    n_dedup = len(_rows(spark, "dedup_minhash_lsh"))
    assert n_cal >= n_dedup > 0


def test_calibration_match_counts_start_at_two(spark):
    """A band collision means both of the band's 2 signature components
    agree, so every candidate pair has n_sig_matches >= 2 (md5
    collisions aside) and <= the 8 components."""
    for r in _rows(spark, "minhash_calibration"):
        assert 2 <= r["n_sig_matches"] <= 8
        assert r["min_exact_bp"] <= r["mean_exact_bp"] <= r["max_exact_bp"]


def test_df_cap_curve_is_monotone_in_cap(spark):
    """Raising the cap can only keep more tokens and admit more
    candidate pairs; kept + dropped partitions the vocabulary, so
    their sum is cap-invariant."""
    rows = sorted(_rows(spark, "df_cap_candidate_curve"), key=lambda r: r["cap"])
    vocab = {r["n_tokens_kept"] + r["n_tokens_dropped"] for r in rows}
    assert len(vocab) == 1
    for lo, hi in zip(rows, rows[1:]):
        assert hi["n_tokens_kept"] >= lo["n_tokens_kept"]
        assert hi["candidate_pairs"] >= lo["candidate_pairs"]
        assert hi["postings_dropped"] <= lo["postings_dropped"]


def test_threshold_curve_accounts_for_every_exact_pair(spark):
    """The survivor curve's bucket counts must sum to the exact pair
    count, and the cumulative column at the lowest bucket must equal
    that total (every pair is at-or-above the bottom bucket)."""
    curve = sorted(
        _rows(spark, "jaccard_threshold_curve"), key=lambda r: r["bucket_lo_bp"]
    )
    n_exact = len(_rows(spark, "dedup_ngram_jaccard"))
    assert sum(r["n_pairs"] for r in curve) == n_exact > 0
    assert curve[0]["n_pairs_at_or_above"] == n_exact
    cums = [r["n_pairs_at_or_above"] for r in curve]
    assert cums == sorted(cums, reverse=True)


def test_source_matrix_accounts_for_every_exact_pair(spark):
    """Every exact near-dup pair lands in exactly one (source_lo,
    source_hi) cell, and mean jaccard stays within the operator's
    [0.12, 1.0] range in bp."""
    matrix = _rows(spark, "near_dup_source_matrix")
    n_exact = len(_rows(spark, "dedup_ngram_jaccard"))
    assert sum(r["n_pairs"] for r in matrix) == n_exact > 0
    for r in matrix:
        assert r["source_lo"] <= r["source_hi"]
        assert 1150 <= r["mean_jaccard_bp"] <= 10000


def test_recall_evals_are_bounded_and_paired(spark):
    """Both recall evals score the same 8-query panel with 5 truth
    rows each; hits can never exceed truth and recall_bp is exact
    integer hits*10000//truth."""
    for name in ("ann_recall_eval", "ann_pq_recall_eval"):
        rows = _rows(spark, name)
        assert len(rows) == 8, name
        for r in rows:
            assert r["n_truth"] == 5
            assert 0 <= r["n_hits"] <= r["n_truth"]
            assert r["recall_bp"] == r["n_hits"] * 10000 // r["n_truth"]


def test_source_quality_profile_accounts_for_every_doc(spark):
    """Per-source doc counts must partition the documents table, and
    high-quality counts can't exceed the source's doc count."""
    rows = _rows(spark, "source_quality_profile")
    from awsbatch_mapreduce_spark.sources.tables import load_table

    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0 <= r["n_high_quality"] <= r["n_docs"]
        assert 0 <= r["mean_quality_bp"] <= 10000


def test_emb_band_load_accounts_for_every_vector(spark):
    """Each vector contributes exactly 2 band keys (2 bands), so
    sum(bucket_size * n_buckets) == 2 * |embeddings|."""
    rows = _rows(spark, "emb_band_load_histogram")
    from awsbatch_mapreduce_spark.sources.tables import load_table

    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["bucket_size"] * r["n_buckets"] for r in rows) == 2 * n_vecs


def test_lsh_band_load_accounts_for_every_signed_doc(spark):
    """Each doc with >= 1 shingle emits exactly 4 band keys, so
    sum(bucket_size * n_buckets) == 4 * |docs with shingles|."""
    from awsbatch_mapreduce_spark.operators.minhash import shingles
    from awsbatch_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    n_signed = shingles(docs).select("doc_id").distinct().count()
    rows = _rows(spark, "lsh_band_load_histogram")
    assert sum(r["bucket_size"] * r["n_buckets"] for r in rows) == 4 * n_signed
