"""The index-generation module (``index/generation.py``) is the only
code that knows the persisted generation's storage format — table
layout, scratch base, pointer file — and it stands on its own below the
query modules.

The claims under test:

- no ``index/*.py`` module imports a ``plans`` module, function-local
  imports included, and no other package file spells the table-name
  template or a pointer token;
- the pointer record round-trips through the one writer, including the
  kind-only and token-only shapes older pointers have;
- ``recover_generations`` reclaims every table of a non-current
  generation, including the tombstone table vacuum drops last — the
  remnant a crash mid-vacuum leaves.
"""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

import awsbatch_mapreduce_spark
from awsbatch_mapreduce_spark.index import generation
from awsbatch_mapreduce_spark.index.codebook import _CAP
from awsbatch_mapreduce_spark.index.generation import (
    PointerRecord,
    _swap_rewrite,
    _write_pointer,
    build_generation,
    cutover_generation,
    read_pointer,
    recover_generations,
    tombstone_members,
)
from awsbatch_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR

PACKAGE_DIR = os.path.dirname(awsbatch_mapreduce_spark.__file__)
INDEX_DIR = os.path.join(PACKAGE_DIR, "index")


@pytest.mark.parametrize(
    "module", sorted(f for f in os.listdir(INDEX_DIR) if f.endswith(".py"))
)
def test_generation_module_imports_no_plans_module(module):
    """The index sits below the query modules: importing a ``plans``
    module (even lazily) would couple it back to them."""
    with open(os.path.join(INDEX_DIR, module)) as fh:
        tree = ast.parse(fh.read())
    imported = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported += [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.append(node.module)
            imported += [f"{node.module}.{alias.name}" for alias in node.names]
    plans = [
        m for m in imported
        if re.match(r"awsbatch_mapreduce_spark\.plans\b", m)
    ]
    assert not plans, plans


def test_only_generation_module_spells_the_storage_format():
    """No other package file builds a generation table name or writes
    or parses a pointer token — the format can change in one place."""
    spellings = re.compile(r"semdedup_\{kind\}_|[\"'](?:cap|nprobe)=[\"']")
    offenders = []
    for dirpath, _, files in os.walk(PACKAGE_DIR):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == generation.__file__:
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if spellings.search(line):
                        rel = os.path.relpath(path, PACKAGE_DIR)
                        offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_only_generation_module_spells_the_write_spec():
    """The (cell, sub) bucket/sort spec of the generation tables is
    declared once, next to the layout: no other package file buckets or
    sorts a table on (cell, sub)."""
    spec = re.compile(r"(?:bucketBy|sortBy)\([^)]*[\"']sub[\"']")
    offenders = []
    for dirpath, _, files in os.walk(PACKAGE_DIR):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == generation.__file__:
                continue
            with open(path) as fh:
                text = fh.read()
            offenders += [
                f"{os.path.relpath(path, PACKAGE_DIR)}: {m.group(0)}"
                for m in spec.finditer(text)
            ]
    assert not offenders, offenders


@pytest.mark.parametrize(
    "spec",
    [(8, ("cell", "sub")), (16, ("bk",)), None],
    ids=["cell_sub_8", "bk_16", "unbucketed"],
)
def test_swap_rewrite_keeps_the_tables_bucket_spec(spark, tmp_path, spec):
    """``_swap_rewrite`` reads the bucket spec from the table itself: a
    rewrite leaves ``DESC EXTENDED``'s bucket rows exactly as they were,
    for a (cell, sub) generation table, a 16-bucket band index and an
    unbucketed table alike."""
    tbl = f"swap_spec_{'x'.join(map(str, spec[1])) if spec else 'flat'}"
    rows = spark.range(40).select(
        (F.col("id") % 5).cast("int").alias("cell"),
        (F.col("id") % 3).cast("int").alias("sub"),
        F.col("id").alias("bk"),
    )
    writer = rows.write.option("path", str(tmp_path / tbl))
    if spec:
        writer = writer.bucketBy(spec[0], *spec[1]).sortBy(*spec[1])
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    writer.mode("overwrite").saveAsTable(tbl)

    def bucket_rows():
        return {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESC EXTENDED {tbl}").collect()
            if r["col_name"] in ("Num Buckets", "Bucket Columns", "Sort Columns")
        }

    before = bucket_rows()
    assert bool(before) == bool(spec), before
    kept = spark.table(tbl).filter(F.col("bk") % 2 == 0).localCheckpoint()
    _swap_rewrite(spark, tbl, kept)
    assert bucket_rows() == before
    assert spark.table(tbl).count() == 20
    spark.sql(f"DROP TABLE {tbl}")


def test_fitted_cap_defaults_to_the_fit_default():
    """Admission and refit resolve a generation's cap in one place: the
    pointer's token, else the default every fit without one uses."""
    assert PointerRecord("g1").fitted_cap == _CAP
    assert PointerRecord("g1", None, False, 64).fitted_cap == 64


def test_pointer_record_round_trips(tmp_path):
    p = str(tmp_path / "ptr")
    assert read_pointer(p) == PointerRecord()  # no file: no generation
    for rec in (
        PointerRecord("g1"),
        PointerRecord("g1", 250),
        PointerRecord("g1", None, True, 64, 3),
        PointerRecord("g1", 250, False, None, 2),
    ):
        _write_pointer(p, rec)
        assert read_pointer(p) == rec
    _write_pointer(p, PointerRecord("g1"))
    with open(p) as fh:
        assert fh.read() == "g1"  # kind-only stays one line
    with open(p, "w") as fh:
        fh.write("g2\n\npq cap=x nprobe=4 future")
    # unparsable values and unknown tokens read as absent
    assert read_pointer(p) == PointerRecord("g2", None, True, None, 4)
    assert read_pointer(p).serving_nprobe == 4
    assert PointerRecord("g2").serving_nprobe == 1


def test_recover_reclaims_tombstone_only_remnant(spark, tmp_path):
    """Vacuum drops the tombstone table LAST, so a crash just before
    that drop leaves a generation whose only remnant is its tombstone
    set (plus its scratch base).  The startup sweep must still
    recognize the kind and reclaim both, and leave the current
    generation alone."""
    emb = load_table(spark, SF_DIR, "embeddings")
    b = emb.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi"))
    b = b.first()
    seen = emb.filter(F.col("vec_id") <= F.lit((b.lo + b.hi) // 2))
    pointer = str(tmp_path / "CURRENT_GENERATION")

    gen_a = build_generation(spark, SF_DIR, "grec0000", seen)
    cutover_generation(spark, SF_DIR, pointer, "grec0000")
    doomed = (
        spark.table(gen_a.members)
        .filter(F.pmod(F.col("seen_id"), F.lit(5)) == 0)
        .select("seen_id")
    )
    assert tombstone_members(spark, SF_DIR, pointer, doomed) > 0
    gen_b = build_generation(spark, SF_DIR, "grec0001", seen)
    cutover_generation(spark, SF_DIR, pointer, "grec0001")

    # a crash mid-vacuum of A: every table but the tombstone set dropped
    for t in gen_a.tables:
        if t != gen_a.tombs:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert spark.catalog.tableExists(gen_a.tombs)
    assert os.path.isdir(gen_a.base)

    assert recover_generations(spark, SF_DIR, pointer, "grec") == ["grec0000"]
    assert not spark.catalog.tableExists(gen_a.tombs)
    assert not os.path.exists(gen_a.base)
    assert read_pointer(pointer).kind == "grec0001"
    for t in (gen_b.coarse, gen_b.fine, gen_b.members):
        assert spark.catalog.tableExists(t)
