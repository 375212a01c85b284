"""Small-file compaction operator."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from awsbatch_mapreduce_spark.operators.compact import compact_parquet
from awsbatch_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _data_files(path: str) -> list[str]:
    return [
        f
        for f in glob.glob(f"{path}/*.parquet")
        if not f.rsplit("/", 1)[-1].startswith(("_", "."))
    ]


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    src = str(tmp_path / "fragmented")
    li = load_table(spark, SF_DIR, "lineitem")
    li.repartition(40).write.parquet(src)
    assert len(_data_files(src)) == 40
    before = li.count()
    out = compact_parquet(spark, src)
    assert out.count() == before
    assert len(_data_files(src)) <= 4


def test_compact_clustering_gives_disjoint_ranges(spark, tmp_path):
    """With cluster_by, each output file must cover a key range that
    does not overlap any other file's — the property that lets parquet
    min/max stats prune whole files for range predicates."""
    src = str(tmp_path / "clustered")
    li = load_table(spark, SF_DIR, "lineitem")
    li.repartition(16).write.parquet(src)
    compact_parquet(spark, src, cluster_by="l_orderkey", n_files=4)
    files = _data_files(src)
    assert len(files) >= 2
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["l_orderkey"])["l_orderkey"]
        if len(t):
            ranges.append((t[0].as_py(), t[-1].as_py()))  # sorted within file
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {ranges}"


def test_interleave_bits_math(spark):
    """z(x, y) must interleave bits with x at even, y at odd positions:
    x=0b11, y=0b00 -> 0b0101 = 5; x=0b00, y=0b11 -> 0b1010 = 10;
    x=3, y=3 -> 15."""
    from pyspark.sql import functions as F

    from awsbatch_mapreduce_spark.operators.compact import interleave_bits

    df = spark.createDataFrame(
        [(3, 0), (0, 3), (3, 3), (2, 1)], "x long, y long"
    )
    out = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn(
            "z", interleave_bits([F.col("x"), F.col("y")], bits=2)
        ).collect()
    }
    assert out[(3, 0)] == 0b0101
    assert out[(0, 3)] == 0b1010
    assert out[(3, 3)] == 0b1111
    # x=0b10,y=0b01 -> bits: x0=0@0, y0=1@1, x1=1@2, y1=0@3 -> 0b0110
    assert out[(2, 1)] == 0b0110


def _file_ranges(path: str, col: str) -> list[tuple[float, float]]:
    out = []
    for f in _data_files(path):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        out.append((lo, hi))
    return out


def test_zorder_bounds_every_listed_dimension(spark, tmp_path):
    """Z-order clustering must leave each output file covering a
    bounded range of BOTH listed columns (so min/max stats prune files
    for predicates on either), where single-key clustering bounds only
    its own key and leaves the other spanning ~the whole domain."""
    src = str(tmp_path / "zordered")
    li = load_table(spark, SF_DIR, "lineitem")
    li.repartition(16).write.parquet(src)
    compact_parquet(
        spark, src, zorder_by=["l_partkey", "l_suppkey"], n_files=8
    )
    assert len(_data_files(src)) == 8

    def widths(col):
        rng = _file_ranges(src, col)
        glo = min(r[0] for r in rng)
        ghi = max(r[1] for r in rng)
        return [(r[1] - r[0]) / max(ghi - glo, 1) for r in rng]

    # Files bounded on BOTH dimensions *on average*: a file straddling
    # a high-bit boundary of the z-curve can span one column's whole
    # domain (curve resets), so the per-file bound isn't guaranteed —
    # expected pruning fraction is.
    wp, ws = widths("l_partkey"), widths("l_suppkey")
    assert sum(wp) / len(wp) <= 0.7, wp
    assert sum(ws) / len(ws) <= 0.7, ws

    # contrast: linear clustering on partkey leaves suppkey unbounded
    src2 = str(tmp_path / "linear")
    li.repartition(16).write.parquet(src2)
    compact_parquet(spark, src2, cluster_by="l_partkey", n_files=8)
    rng = _file_ranges(src2, "l_suppkey")
    glo = min(r[0] for r in rng)
    ghi = max(r[1] for r in rng)
    lw = [(r[1] - r[0]) / max(ghi - glo, 1) for r in rng]
    assert sum(lw) / len(lw) > 0.85, lw


def test_zorder_query_prunes_files(spark):
    """The oracle-gated ``zorder_pruned_scan`` must (a) push both box
    predicates down to the parquet scan of the clustered copy and
    (b) leave a layout where the predicate box intersects only a
    strict subset of the files' min/max ranges — i.e. the scan
    actually skips files, which is the point of z-ordering."""
    from awsbatch_mapreduce_spark.plans import QUERIES
    from awsbatch_mapreduce_spark.plans.catalog_ops import zorder_scratch_dir

    df = QUERIES["zorder_pruned_scan"].builder(spark, SF_DIR)
    assert df.count() == 1  # materialize (also writes the z-ordered copy)

    plan = df._jdf.queryExecution().executedPlan().toString()
    # PushedFilters is string-truncated in toString, so check the first
    # pushed predicate there and both in the untruncated Filter node
    assert "PushedFilters: [IsNotNull" in plan
    import re

    for col in ("l_orderkey", "l_partkey"):
        assert re.search(rf"\({col}#\d+L? <= \d+\)", plan), plan[:2000]

    path = zorder_scratch_dir(SF_DIR)
    ok = _file_ranges(path, "l_orderkey")
    pk = _file_ranges(path, "l_partkey")
    assert len(ok) == 8
    ok_hi = min(r[0] for r in ok) + (
        max(r[1] for r in ok) - min(r[0] for r in ok)
    ) // 10
    pk_hi = min(r[0] for r in pk) + (
        max(r[1] for r in pk) - min(r[0] for r in pk)
    ) // 10
    live = sum(
        1
        for (olo, _), (plo, _) in zip(ok, pk)
        if olo <= ok_hi and plo <= pk_hi
    )
    assert live < len(ok), (ok, pk)


def test_zorder_preserves_rows_and_schema(spark, tmp_path):
    src = str(tmp_path / "zroundtrip")
    li = load_table(spark, SF_DIR, "lineitem")
    li.repartition(12).write.parquet(src)
    before_rows = li.count()
    before_cols = set(li.columns)
    out = compact_parquet(
        spark, src, zorder_by=["l_orderkey", "l_partkey"], n_files=4
    )
    assert out.count() == before_rows
    assert set(out.columns) == before_cols
