"""CLI entry point (`python -m awsbatch_mapreduce_spark`)."""

from __future__ import annotations

import pytest

from awsbatch_mapreduce_spark.__main__ import main
from tests.conftest import SF_DIR


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "dedup_minhash_lsh" in out


def test_cli_oracle(capsys):
    assert main(["oracle", "q1_pricing_summary"]) == 0
    assert "lineitem" in capsys.readouterr().out
    # kmeans gained an oracle in r3; approx_sketches in r4 (exact counts
    # + tolerance flags) — as of r4 every registered query has an oracle
    assert main(["oracle", "kmeans_embeddings"]) == 0
    assert "a5 GROUP BY cell" in capsys.readouterr().out
    assert main(["oracle", "approx_sketches"]) == 0
    assert "GROUP BY event_type" in capsys.readouterr().out


def test_cli_unknown_query_exits_2():
    with pytest.raises(SystemExit) as e:
        main(["run", "nope_not_a_query"])
    assert e.value.code == 2


def test_cli_run_and_out(spark, capsys, tmp_path):
    # `spark` fixture keeps getOrCreate cheap — the CLI reuses the session
    assert main(["run", "month_manifest", "--sf-dir", SF_DIR, "--limit", "3"]) == 0
    assert "iteration" in capsys.readouterr().out
    out = str(tmp_path / "res.parquet")
    assert main(["run", "top_customers", "--sf-dir", SF_DIR, "--out", out]) == 0
    assert spark.read.parquet(out).count() > 0


def test_cli_explain(spark, capsys):
    assert main(["explain", "q6_forecast_revenue", "--sf-dir", SF_DIR]) == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_cli_pipeline_end_to_end(spark, capsys, tmp_path):
    """The reference demo end-to-end: per-month shaded PNG frames in
    %03d order plus the stitch output (ffmpeg absent -> the ordered
    frames manifest, same as the operator contract)."""
    out = tmp_path / "pipeline"
    assert main(
        ["pipeline", "--sf-dir", SF_DIR, "--out", str(out), "--months", "3"]
    ) == 0
    frames = sorted(out.glob("output-iteration-*.png"))
    assert [f.name for f in frames] == [
        f"output-iteration-{i:03d}.png" for i in range(3)
    ]
    for f in frames:
        assert f.read_bytes()[:8] == b"\x89PNG\r\n\x1a\n"
    listing = out / "output.frames.txt"
    assert listing.exists() and "output-iteration-000.png" in listing.read_text()


def test_pipeline_runs_one_spark_action(spark, tmp_path):
    """The whole map->reduce is one Spark action, however many months it
    renders.  Tagged with a job group, a run counts three jobs: the
    lineitem schema read at load, then the single grid transfer's
    shuffle map stage and its result stage (adaptive execution submits
    them as two jobs).  A per-month collect would add jobs with every
    month."""
    from awsbatch_mapreduce_spark.pipeline import run_reference_pipeline
    from tests.conftest import SF_DIR_ORACLE

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for months in (1, 3):
        group = f"pipeline-one-action-{months}"
        sc.setJobGroup(group, group)
        try:
            run_reference_pipeline(
                spark, SF_DIR_ORACLE, tmp_path / str(months), max_months=months
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sorted(tracker.getJobIdsForGroup(group))
        assert len(jobs) == 3, (months, jobs)


def test_cli_curate_end_to_end(tmp_path, capsys):
    """The composed curation build: monotone funnel counts, hive-layout
    export that prunes on read, and a manifest that reproduces run-over-
    run (md5 assignments are deterministic)."""
    import json

    from awsbatch_mapreduce_spark.__main__ import main

    out = tmp_path / "build"
    rc = main(
        ["curate", "--sf-dir", "/root/testdata/sf0.001", "--out", str(out)]
    )
    assert rc == 0
    man = json.loads((out / "manifest.json").read_text())
    st = man["stages"]
    assert (
        st["input"] >= st["exact_dedup"] >= st["quality_gate"] >= st["lang_filter"]
    )
    assert st["lang_filter"] > 0, "funnel must not be vacuous"
    assert sum(man["shard_counts"].values()) == st["lang_filter"]
    # hive layout exists and is prunable by directory
    splits = {p.name for p in (out / "corpus").iterdir() if p.is_dir()}
    assert splits <= {"split=train", "split=val", "split=test"} and splits

    out2 = tmp_path / "build2"
    rc = main(
        ["curate", "--sf-dir", "/root/testdata/sf0.001", "--out", str(out2)]
    )
    assert rc == 0
    man2 = json.loads((out2 / "manifest.json").read_text())
    assert man2["stages"] == man["stages"]
    assert man2["shard_counts"] == man["shard_counts"]


def test_cli_list_descriptions_are_formatted(capsys):
    """Every query's description is its builder's docstring as it reads
    after the module formatted it: none empty, none with a raw
    ``{name}`` placeholder."""
    import re

    assert main(["list"]) == 0
    rows = capsys.readouterr().out.splitlines()
    assert rows
    bad = [
        r for r in rows
        if not r.partition(": ")[2].strip()
        or re.search(r"\{[A-Za-z_]\w*\}", r)
    ]
    assert not bad, bad
