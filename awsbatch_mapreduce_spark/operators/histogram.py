"""2-D histogram binning — the reference's core aggregation (A1).

Datashader's ``Canvas(plot_width, plot_height).points(df, 'x', 'y')``
(``src/awsbatch-map/main.py:76-77``, 1400x1000) is a numba-compiled
hash-aggregation keyed by the floor-binned coordinates.  Here it is a
plain ``groupBy(px, py).count()`` — Spark runs it as partial (map-side)
+ final hash aggregation with whole-stage codegen, which is exactly the
distributed generalization: the reference could only juxtapose per-month
rasters (video frames), while this plan computes a true cross-partition
histogram with one shuffle of at most width*height rows per partition.

Scale notes: the shuffle volume is bounded by the grid size (<= w*h
distinct keys per map partition after partial agg), not the input row
count — a 1400x1000 grid is <= 1.4M rows regardless of whether the scan
read 60k rows or 100 TB.  The result is a *sparse* grid (empty pixels
absent); densify at render time.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def histogram2d(
    df: DataFrame,
    x: str | Column,
    y: str | Column,
    *,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    width: int,
    height: int,
    by: Sequence[str] = (),
) -> DataFrame:
    """Bin points onto a ``width x height`` grid; per-pixel counts,
    one grid per value of the grouping columns ``by``.

    Returns columns ``*by``, ``px`` (0..width-1), ``py`` (0..height-1),
    ``cnt``.  Points outside the ranges are dropped (the reference
    applies its bbox filter first, ``main.py:73-75``); boundary
    ``x == x_max`` lands in the last bin, matching datashader's inclusive
    right edge.
    """
    xmin, xmax = x_range
    ymin, ymax = y_range
    if xmax <= xmin or ymax <= ymin:
        raise ValueError("empty histogram range")
    xstep = (xmax - xmin) / width
    ystep = (ymax - ymin) / height
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    df = df.filter(
        (xc >= F.lit(xmin))
        & (xc <= F.lit(xmax))
        & (yc >= F.lit(ymin))
        & (yc <= F.lit(ymax))
    )
    px = F.least(
        F.floor((xc - F.lit(xmin)) / F.lit(xstep)), F.lit(width - 1)
    ).cast("bigint")
    py = F.least(
        F.floor((yc - F.lit(ymin)) / F.lit(ystep)), F.lit(height - 1)
    ).cast("bigint")
    return (
        df.select(*by, px.alias("px"), py.alias("py"))
        .groupBy(*by, "px", "py")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram2d_sql(
    table_expr: str,
    x: str,
    y: str,
    *,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    width: int,
    height: int,
) -> str:
    """ANSI-SQL twin of :func:`histogram2d` for the DuckDB oracle.

    Uses the identical double-precision expression tree so bin edges are
    bit-for-bit reproducible across engines.
    """
    xmin, xmax = x_range
    ymin, ymax = y_range
    xstep = (xmax - xmin) / width
    ystep = (ymax - ymin) / height
    return f"""
        SELECT
            CAST(LEAST(FLOOR(({x} - {xmin!r}) / {xstep!r}), {width - 1}) AS BIGINT) AS px,
            CAST(LEAST(FLOOR(({y} - {ymin!r}) / {ystep!r}), {height - 1}) AS BIGINT) AS py,
            COUNT(*) AS cnt
        FROM {table_expr}
        WHERE {x} >= {xmin!r} AND {x} <= {xmax!r}
          AND {y} >= {ymin!r} AND {y} <= {ymax!r}
        GROUP BY 1, 2
    """
