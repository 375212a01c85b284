"""Output checks, run outside the timer.

Registry steps are compared with their DuckDB oracle SQL on the same
fixture tables, through the repository's own oracle comparator
(``tests/oracle_utils.py``): same column names and type classes, same
row count, equal values after sorting.  The reference pipeline is
checked frame by frame against a DuckDB recount of its per-month 2-D
bins.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from pathlib import Path

import pandas as pd

from tests.oracle_utils import compare_frames, duckdb_con

# Raster of the reference map stage as the pipeline renders it:
# x = discounted price, y = quantity, clipped to the bounding box and
# binned on a 140 x 100 grid (plans/reference_parity.py).
_X = "l_extendedprice * (1.0 - l_discount)"
_Y = "l_quantity"
_BBOX = (1000.0, 50000.0, 5.0, 45.0)
_W, _H = 140, 100


def connect(data_dir: Path):
    return duckdb_con(str(data_dir))


def check_query(con, oracle_sql: str, columns: list[str], rows: list) -> str | None:
    """First mismatch between collected Spark rows and the oracle, or None."""
    got = pd.DataFrame([tuple(r) for r in rows], columns=columns)
    problems = compare_frames(got, con.execute(oracle_sql).fetchdf())
    return problems[0] if problems else None


def _png_lit_cells(path: Path) -> tuple[int, int, set[tuple[int, int]]]:
    """Width, height and non-black pixels of an unfiltered RGB8 PNG."""
    data = path.read_bytes()
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError(f"{path.name}: not a PNG")
    pos, idat, width, height = 8, b"", 0, 0
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        tag, payload = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
        if tag == b"IHDR":
            width, height = struct.unpack(">II", payload[:8])
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + n
    raw = zlib.decompress(idat)
    stride = 1 + 3 * width
    lit = set()
    for yy in range(height):
        row = raw[yy * stride:(yy + 1) * stride]
        if row[0] != 0:
            raise ValueError(f"{path.name}: unexpected PNG filter {row[0]}")
        for xx in range(width):
            if row[1 + 3 * xx:4 + 3 * xx] != b"\x00\x00\x00":
                lit.add((xx, yy))
    return width, height, lit


def expected_frames(con) -> dict[str, set[tuple[int, int]]]:
    """Month -> set of occupied (px, py) bins, recounted by DuckDB."""
    xmin, xmax, ymin, ymax = _BBOX
    xstep, ystep = (xmax - xmin) / _W, (ymax - ymin) / _H
    rows = con.execute(f"""
        SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS m,
               CAST(least(floor(({_X} - {xmin!r}) / {xstep!r}), {_W - 1}) AS INT),
               CAST(least(floor(({_Y} - {ymin!r}) / {ystep!r}), {_H - 1}) AS INT)
        FROM lineitem
        WHERE {_X} >= {xmin!r} AND {_X} <= {xmax!r}
          AND {_Y} >= {ymin!r} AND {_Y} <= {ymax!r}
        GROUP BY ALL
    """).fetchall()
    out: dict[str, set[tuple[int, int]]] = {}
    for m, px, py in rows:
        out.setdefault(m, set()).add((px, py))
    return out


def frame_digests(manifest: dict) -> list[str]:
    return [hashlib.sha256(Path(p).read_bytes()).hexdigest() for p in manifest["frames"]]


def check_pipeline(expected: dict[str, set], manifest: dict, max_months: int) -> str | None:
    """The first ``max_months`` months in order, one frame per month named
    by its index, and each frame lighting exactly the bins DuckDB counts
    for that month."""
    months = sorted(expected)[:max_months]
    if manifest["months"] != months:
        return f"months {manifest['months'][:3]}... != {months[:3]}... ({len(months)})"
    frames = [Path(p) for p in manifest["frames"]]
    if [p.name for p in frames] != [f"output-iteration-{i:03d}.png" for i in range(len(months))]:
        return "frame names out of order"
    for m, p in zip(months, frames):
        w, h, lit = _png_lit_cells(p)
        if (w, h) != (_W, _H):
            return f"{p.name}: size {w}x{h}"
        if lit != expected[m]:
            return f"{p.name}: {len(lit ^ expected[m])} bins differ from {m}"
    return None
