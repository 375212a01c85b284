"""Cross-query invariants of the append-batch novelty over the
adaptive two-level codebook (VERDICT r12 #4).

Beyond the per-query DuckDB oracle (tests/test_oracle_parity.py), the
claims that make this the 100 TB daily-append path are pinned: the
<= cap membership bound survives the APPEND (not just the build),
appended chunks never collide with build chunks (per-cell sub offset),
the fine book grows by exactly the appended chunk count, the probe
plan has zero seen-side recompute against the GROWN index, and a
probe vector demonstrably matches against appended-batch members
(the append is semantically live, not just written)."""

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

_Q = "semdedup_codebook_adaptive_append"


def _tbl(spark, part: str) -> str:
    tbls = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(f"semdedup_app_{part}_")
    ]
    assert tbls, f"app {part} table missing after builder ran"
    return tbls[0]


def _bounds(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).first()
    mid = (b.lo + b.hi) // 2
    return mid, (mid + b.hi) // 2


def test_append_members_per_fine_cell_capped_after_growth(spark):
    """The cap bound must hold for the GROWN members table — build
    chunks AND appended chunks — which is the whole point of offsetting
    appended subs instead of admitting into existing fine cells."""
    _rows(spark, _Q, SF_DIR)
    mem = spark.table(_tbl(spark, "members"))
    per_cell = mem.groupBy("cell", "sub").count().agg(F.max("count")).first()[0]
    assert per_cell <= _CAP, f"fine cell over cap after append: {per_cell}"


def test_append_chunks_never_collide_with_build_chunks(spark):
    """Per coarse cell: every appended member's sub is strictly greater
    than every build member's sub (the MAX(sub)+1 offset), so the
    append touches no existing fine cell."""
    _rows(spark, _Q, SF_DIR)
    mid, q3 = _bounds(spark, SF_DIR)
    mem = spark.table(_tbl(spark, "members"))
    build_max = (
        mem.filter(F.col("seen_id") <= F.lit(mid))
        .groupBy("cell")
        .agg(F.max("sub").alias("bmax"))
    )
    app_min = (
        mem.filter(F.col("seen_id") > F.lit(mid))
        .groupBy("cell")
        .agg(F.min("sub").alias("amin"), F.count(F.lit(1)).alias("n_app"))
    )
    joined = app_min.join(build_max, "cell", "left").collect()
    assert joined, "append batch admitted no members"
    for r in joined:
        if r["bmax"] is not None:
            assert r["amin"] > r["bmax"], (r["cell"], r["amin"], r["bmax"])
    # and the appended half really is the (mid, q3] batch
    n_batch = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter((F.col("vec_id") > F.lit(mid)) & (F.col("vec_id") <= F.lit(q3)))
        .count()
    )
    assert sum(r["n_app"] for r in joined) == n_batch


def test_append_grows_fine_book_by_exact_chunk_count(spark):
    """Fine-book rows == distinct (cell, sub) pairs of the grown
    members table == build chunks + sum(ceil(per-cell appended/cap))."""
    _rows(spark, _Q, SF_DIR)
    mid, _ = _bounds(spark, SF_DIR)
    mem = spark.table(_tbl(spark, "members"))
    fine = spark.table(_tbl(spark, "fine"))
    n_fine = fine.select("cell", "sub").distinct().count()
    assert fine.count() == n_fine  # one centroid per fine cell
    assert n_fine == mem.select("cell", "sub").distinct().count()
    app_sizes = [
        r["n"]
        for r in mem.filter(F.col("seen_id") > F.lit(mid))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    build_chunks = (
        mem.filter(F.col("seen_id") <= F.lit(mid))
        .select("cell", "sub")
        .distinct()
        .count()
    )
    assert n_fine == build_chunks + sum(
        math.ceil(n / _CAP) for n in app_sizes
    )


def test_append_flag_consistency_and_non_vacuous(spark):
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


def test_append_is_semantically_live(spark):
    """At least one non-novel probe vector sits in a fine cell whose
    members are EXCLUSIVELY appended-batch vectors — its duplicate
    verdict can only have come from the appended generation, proving
    the probe reads the grown index, not just the build."""
    rows = _rows(spark, _Q, SF_DIR)
    mid, _ = _bounds(spark, SF_DIR)
    mem = spark.table(_tbl(spark, "members"))
    app_only = {
        (r["cell"], r["sub"])
        for r in mem.groupBy("cell", "sub")
        .agg(F.min("seen_id").alias("lo_id"))
        .collect()
        if r["lo_id"] > mid
    }
    assert app_only, "no append-only fine cells on the fixture"
    hits = [
        r
        for r in rows
        if not r["is_novel"] and (r["cell"], r["sub"]) in app_only
    ]
    assert hits, "no probe hit resolved against appended members"


def test_append_probe_zero_seen_side_recompute(spark):
    """The probe plan reads the persisted app fine/members tables
    (grown generations included), no Lloyd/posexplode; the coarse book
    is a collected literal (round 19 — no coarse scan, zero
    broadcasts); growing fine/members sides exchange-free off their
    bucket specs."""
    df = QUERIES[_Q].builder(spark, SF_DIR)
    tree = _plan(df)
    assert not re.search(
        r"Scan parquet spark_catalog\.default\.semdedup_app_coarse_", tree
    ), "coarse book must be a collected literal, not a probe-plan scan"
    for t in ("semdedup_app_fine_", "semdedup_app_members_"):
        assert re.search(rf"Scan parquet spark_catalog\.default\.{t}", tree), t
    assert "posexplode" not in tree and "Generate" not in tree
    got = len(set(re.findall(r"BroadcastExchange \((\d+)\)", tree)))
    assert got == 0, tree[:2000]
    lines = tree.splitlines()
    for t in ("semdedup_app_fine_", "semdedup_app_members_"):
        i = next(
            i
            for i, l in enumerate(lines)
            if f"Scan parquet spark_catalog.default.{t}" in l
        )
        assert "Exchange" not in "\n".join(lines[max(0, i - 3) : i]), (
            f"{t} side of a probe join must not exchange:\n"
            + "\n".join(lines[max(0, i - 4) : i + 1])
        )


def test_append_idempotent_on_one_session(spark):
    """Two builder calls on one session must produce identical rows —
    catches a double-append or a lazily-recomputed sub offset (the
    localCheckpoint exists precisely so the offset snapshot precedes
    the appends)."""
    r1 = sorted(map(tuple, QUERIES[_Q].builder(spark, SF_DIR).collect()))
    r2 = sorted(map(tuple, QUERIES[_Q].builder(spark, SF_DIR).collect()))
    assert r1 == r2 and len(r1) > 0
