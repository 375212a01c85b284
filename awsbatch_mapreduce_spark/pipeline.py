"""End-to-end reference-parity pipeline: the whole AWSBatch-MapReduce
demo as ONE Spark job.

Reference dataflow (SURVEY.md §0): setup enumerates months and submits
24 array tasks (`src/awsbatch-mapreduce/Implementation.cs:16-78`); each
map task reads its month, projects coordinates, bbox-filters,
rasterizes a 2-D count grid, shades a PNG (`src/awsbatch-map/
main.py:49-92`); the reduce stitches PNGs into a video in index order
(`Reduce.ps1:3-10`).

Here the per-month fan-out, the stage barrier, and the S3 exchange all
collapse into a single grouped aggregation keyed by (month, px, py) —
one scan, one shuffle bounded by grid_size x n_months, then a
driver-side render loop over the (tiny) collected grids.  This is the
cross-month histogram the reference could never compute (its months
only ever met as video frames, SURVEY.md §4 "partial+final
aggregation").

The reduce is linear in collected rows + grid cells: the grid arrives
as one Arrow table, one pass buckets its rows by month, then each frame
is densified into a flat row-major list and shaded with byte operations
(``render.render_cells_png``).
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from awsbatch_mapreduce_spark.operators.render import render_cells_png, stitch_video
from awsbatch_mapreduce_spark.plans.reference_parity import (
    _BBOX,
    _GRID_H,
    _GRID_W,
    _X_EXPR,
    _Y_EXPR,
)
from awsbatch_mapreduce_spark.sources.tables import load_table


def run_reference_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | Path,
    max_months: int | None = None,
    width: int = _GRID_W,
    height: int = _GRID_H,
) -> dict:
    """Project -> bbox filter -> per-month 2-D bin counts -> shaded
    PNG per month (``output-iteration-%03d.png``, ``main.py:84``) ->
    ordered video stitch.

    Returns a manifest dict: months rendered, frame paths, video (or
    the ffmpeg-less frames manifest).
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.expr(_X_EXPR), F.expr(_Y_EXPR)
    xstep = (_BBOX["xmax"] - _BBOX["xmin"]) / width
    ystep = (_BBOX["ymax"] - _BBOX["ymin"]) / height
    binned = (
        li.filter(
            (x >= _BBOX["xmin"]) & (x <= _BBOX["xmax"])
            & (y >= _BBOX["ymin"]) & (y <= _BBOX["ymax"])
        )
        .select(
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM")
            .alias("year_month"),
            F.least(
                F.floor((x - _BBOX["xmin"]) / xstep), F.lit(width - 1)
            ).cast("int").alias("px"),
            F.least(
                F.floor((y - _BBOX["ymin"]) / ystep), F.lit(height - 1)
            ).cast("int").alias("py"),
        )
        .groupBy("year_month", "px", "py")
        .count()
    )
    # one action (an Arrow transfer of the grid-bounded rows), then one
    # pass buckets them by month: the reduce is linear in rows + cells
    by_month: dict[str, list[tuple[int, int, int]]] = defaultdict(list)
    grid = binned.toArrow()
    for mon, px, py, c in zip(*(col.to_pylist() for col in grid.columns)):
        by_month[mon].append((px, py, c))
    months = sorted(by_month)[:max_months]
    frame_paths: list[Path] = []
    for i, mon in enumerate(months):
        frame = out / f"output-iteration-{i:03d}.png"
        render_cells_png(by_month[mon], frame, width, height)
        frame_paths.append(frame)
    manifest = {
        "months": months,
        "frames": [str(p) for p in frame_paths],
        "video": None,
    }
    try:
        video = stitch_video(frame_paths, out / "output.mp4")
        manifest["video"] = str(video)
    except NotImplementedError:
        manifest["video"] = str((out / "output.mp4").with_suffix(".frames.txt"))
    return manifest
