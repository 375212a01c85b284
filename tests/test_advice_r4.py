"""Regression pins for the three ADVICE-r4 fixes.

Each was a latent defect invisible on the shipped fixture (no empty
documents, no sparse/bimodal value gaps at the graded quantiles, no
same-basename fixture roots); these tests build the degenerate inputs
the fixture lacks and prove the gate contract now holds on them.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.plans import QUERIES
from tests.oracle_utils import compare_frames

_DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)
_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _fixture(spark, tmp_path, table, schema, rows):
    d = str(tmp_path / "fixture")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/{table}.parquet")
    return d


def _oracle_pdf(sf_dir: str, table: str, sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{sf_dir}/{table}.parquet/*.parquet')"
    )
    return con.execute(sql).fetchdf()


def test_compression_ratio_empty_document(spark, tmp_path):
    """A zero-byte document used to yield ratio = n_comp / 0 = inf, so
    ``ratio_ok`` flipped to 0 against the oracle's literal 1 — a
    guaranteed hash mismatch on any regenerated fixture containing an
    empty text.  Now the ratio denominator is clamped and empty docs
    pass ``ratio_ok`` unconditionally."""
    rows = [
        (1, "", "en", "web", 0),
        (2, "a perfectly ordinary sentence about nothing much", "en", "web", 48),
    ]
    d = _fixture(spark, tmp_path, "documents", _DOCS_SCHEMA, rows)
    spec = QUERIES["text_compression_ratio"]
    got = spec.builder(spark, d).toPandas()
    # every ratio the UDF emits must be finite even for empty input
    assert all(r.comp_ok == 1 and r.ratio_ok == 1 for r in got.itertuples())
    assert not compare_frames(got, _oracle_pdf(d, "documents", spec.oracle))


def test_approx_sketches_bimodal_values(spark, tmp_path):
    """percentile_approx returns an actual data element; the old flag
    compared it against the INTERPOLATED exact percentile, so a bimodal
    distribution with the quantile falling in the gap (element-to-
    interpolation distance 500 vs a 25-unit band) flipped p50_ok to 0.
    The discrete baseline + bracket-gap band must keep every flag at 1
    while the oracle emits literal 1s — hash-exact on degenerate
    shapes."""
    base = 1_700_000_000_000_000  # epoch micros
    df = spark.createDataFrame(
        [
            # 100 zeros + 100 thousands: p50 falls in the gap; the last
            # decile boundary puts p95's interpolation in the gap too
            (
                i,
                base + i * 1_000_000,
                i % 37,
                "bimodal",
                0.0 if i < 100 else 1000.0,
                "{}",
            )
            for i in range(200)
        ],
        "event_id long, ts_us long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    d = str(tmp_path / "fixture")
    df.coalesce(1).write.parquet(f"{d}/events.parquet")

    # prove the fixture is non-vacuous: the interpolated exact p50/p95
    # really is >5%-of-magnitude away from every data element
    interp = spark.read.parquet(f"{d}/events.parquet").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    ).first()
    assert min(abs(interp.p50 - 0.0), abs(interp.p50 - 1000.0)) > 0.05 * abs(
        interp.p50
    )

    spec = QUERIES["approx_sketches"]
    got = spec.builder(spark, d).toPandas()
    assert all(
        (r.users_ok, r.p50_ok, r.p95_ok) == (1, 1, 1) for r in got.itertuples()
    )
    assert not compare_frames(got, _oracle_pdf(d, "events", spec.oracle))


def test_scratch_tag_distinguishes_same_basename_roots(tmp_path):
    """Two fixture roots sharing a basename must map to different
    scratch dirs — the old basename-only tag collided them onto one
    mutable /tmp path (ADVICE r4)."""
    from awsbatch_mapreduce_spark.scratch import _scratch_tag

    a = tmp_path / "a" / "sf0.01"
    b = tmp_path / "b" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    ta, tb = _scratch_tag(str(a)), _scratch_tag(str(b))
    assert ta != tb
    assert ta.startswith("sf0_01_") and tb.startswith("sf0_01_")
    # deterministic across calls (idempotent reruns hit the same path)
    assert _scratch_tag(str(a)) == ta


def test_scratch_dir_sweeps_stale_generations_age_gated(
    tmp_path, monkeypatch
):
    """Repeated rounds must leave one scratch generation per prefix
    (VERDICT r4 #4), but the sweep is age-gated (ADVICE r5): a FRESH
    sibling tag may belong to a concurrently running process on another
    fixture and must survive; only generations older than the gate are
    removed.  Reruns on the same fixture stay stable."""
    import time

    from awsbatch_mapreduce_spark import scratch

    monkeypatch.setattr(
        scratch.tempfile, "gettempdir", lambda: str(tmp_path)
    )
    a = tmp_path / "fa" / "sf0.01"
    b = tmp_path / "fb" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    da = scratch._scratch_dir("awsbatch_zorder", str(a))
    os.makedirs(da)
    # fresh sibling: must NOT be swept by another fixture's call
    db = scratch._scratch_dir("awsbatch_zorder", str(b))
    os.makedirs(db)
    gens = sorted(
        e for e in os.listdir(tmp_path) if e.startswith("awsbatch_zorder_")
    )
    assert gens == sorted(
        [os.path.basename(da), os.path.basename(db)]
    ), "fresh sibling generation was swept (concurrent-process hazard)"
    # backdate da past the gate: now it's provably abandoned and goes
    old = time.time() - scratch._SCRATCH_SWEEP_AGE_SEC - 60
    os.utime(da, (old, old))
    assert scratch._scratch_dir("awsbatch_zorder", str(b)) == db
    gens = [e for e in os.listdir(tmp_path) if e.startswith("awsbatch_zorder_")]
    assert gens == [os.path.basename(db)]
    assert os.path.isdir(db)
