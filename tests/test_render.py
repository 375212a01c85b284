"""Render sink tests: PNG validity, eq-hist shading, video stitch stub.

The reference's acceptance criterion was visual inspection of PNG/MP4
(SURVEY.md §5); here the encoder output is checked structurally
(decodes per the PNG spec) and the shading law (equal mass per level)
numerically.
"""

from __future__ import annotations

import struct
import zlib
from pathlib import Path

import pytest

from awsbatch_mapreduce_spark.operators.render import (
    _FIRE,
    eq_hist_shade,
    render_cells_png,
    stitch_video,
    write_png,
)


def _decode_png(path: Path) -> tuple[int, int, bytes]:
    data = path.read_bytes()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, idat = 8, b""
    w = h = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        crc = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        assert crc == zlib.crc32(tag + payload) & 0xFFFFFFFF
        if tag == b"IHDR":
            w, h = struct.unpack(">II", payload[:8])
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + length
    return w, h, zlib.decompress(idat)


def test_write_png_roundtrip(tmp_path):
    w, h = 3, 2
    rgb = bytes(range(w * h * 3))
    p = tmp_path / "t.png"
    write_png(p, w, h, rgb)
    dw, dh, raw = _decode_png(p)
    assert (dw, dh) == (w, h)
    # strip per-row filter byte (0 = None) and compare
    rows = [raw[y * (w * 3 + 1) : (y + 1) * (w * 3 + 1)] for y in range(h)]
    assert all(r[0] == 0 for r in rows)
    assert b"".join(r[1:] for r in rows) == rgb


def test_eq_hist_equal_mass():
    counts = list(range(800))  # 799 nonzero cells, uniform
    levels = eq_hist_shade(counts)
    assert levels[0] == 0  # zero stays background
    from collections import Counter

    mass = Counter(l for c, l in zip(counts, levels) if c > 0)
    # each of the 7 nonzero levels covers ~1/7 of nonzero cells
    assert max(mass.values()) - min(mass.values()) <= 800 // 6
    # monotone: higher count -> same or higher level
    nz = [(c, l) for c, l in zip(counts, levels) if c > 0]
    assert all(l2 >= l1 for (_, l1), (_, l2) in zip(nz, nz[1:]))


def test_render_grid_png_from_query(spark, tmp_path):
    """End-to-end: flagship histogram query -> PNG file on disk."""
    from awsbatch_mapreduce_spark.plans import QUERIES
    from tests.conftest import SF_DIR

    binned = QUERIES["frame_histogram2d"].builder(spark, SF_DIR)
    p = tmp_path / "frame.png"
    render_cells_png(binned.select("px", "py", "cnt").collect(), p, 140, 100)
    w, h, raw = _decode_png(p)
    assert (w, h) == (140, 100)
    # shaded output must not be all-black (data exists in bbox)
    assert any(b != 0 for b in raw)


def _per_cell_render(grid, path: Path, width: int, height: int) -> None:
    """The per-cell densify and RGB loops the byte-operation render path
    replaced, kept as its byte-for-byte reference."""
    cells = {(px, py): c for px, py, c in grid}
    flat = [cells.get((xx, yy), 0) for yy in range(height) for xx in range(width)]
    levels = eq_hist_shade(flat)
    rgb = bytearray(width * height * 3)
    for i, lev in enumerate(levels):
        rgb[3 * i : 3 * i + 3] = bytes(_FIRE[lev])
    write_png(path, width, height, bytes(rgb))


_W, _H = 7, 5


@pytest.mark.parametrize(
    "grid",
    [
        [],
        [(3, 2, 9)],
        [(0, 0, 4), (1, 0, 4), (2, 3, 4), (6, 4, 1), (5, 1, 1)],
        [(_W - 1, _H - 1, 2)],
        [(0, 0, 1), (_W, 0, 5), (0, _H, 5), (-1, 2, 5)],
        [(x, y, (x * 7 + y * 3) % 11) for y in range(_H) for x in range(_W)],
    ],
    ids=["empty", "one_cell", "tied_counts", "last_cell", "off_grid", "dense"],
)
def test_render_cells_matches_per_cell_reference(tmp_path, grid):
    render_cells_png(grid, tmp_path / "new.png", _W, _H)
    _per_cell_render(grid, tmp_path / "ref.png", _W, _H)
    assert (tmp_path / "new.png").read_bytes() == (tmp_path / "ref.png").read_bytes()


def test_pipeline_frames_match_per_cell_reference(spark, tmp_path):
    """The pipeline's first 3 months at sf0.01, byte for byte against
    the per-cell reference renderer over a DuckDB recount of the same
    per-month bins: pins the month bucketing and the render path."""
    from awsbatch_mapreduce_spark.pipeline import run_reference_pipeline
    from awsbatch_mapreduce_spark.plans.reference_parity import (
        _BBOX,
        _GRID_H,
        _GRID_W,
        _X_EXPR,
        _Y_EXPR,
    )
    from tests.conftest import SF_DIR_ORACLE
    from tests.oracle_utils import duckdb_con

    xmin, xmax, ymin, ymax = (_BBOX[k] for k in ("xmin", "xmax", "ymin", "ymax"))
    xstep, ystep = (xmax - xmin) / _GRID_W, (ymax - ymin) / _GRID_H
    rows = duckdb_con(SF_DIR_ORACLE).execute(f"""
        SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS m,
               CAST(least(floor(({_X_EXPR} - {xmin!r}) / {xstep!r}), {_GRID_W - 1}) AS INT),
               CAST(least(floor(({_Y_EXPR} - {ymin!r}) / {ystep!r}), {_GRID_H - 1}) AS INT),
               COUNT(*)
        FROM lineitem
        WHERE {_X_EXPR} >= {xmin!r} AND {_X_EXPR} <= {xmax!r}
          AND {_Y_EXPR} >= {ymin!r} AND {_Y_EXPR} <= {ymax!r}
        GROUP BY ALL
    """).fetchall()
    grids: dict[str, list] = {}
    for m, px, py, c in rows:
        grids.setdefault(m, []).append((px, py, c))
    months = sorted(grids)[:3]

    manifest = run_reference_pipeline(spark, SF_DIR_ORACLE, tmp_path / "out", max_months=3)
    assert manifest["months"] == months
    for m, frame in zip(months, manifest["frames"]):
        ref = tmp_path / f"ref-{m}.png"
        _per_cell_render(grids[m], ref, _GRID_W, _GRID_H)
        assert Path(frame).read_bytes() == ref.read_bytes(), m


def test_binaryfile_source_reads_frames(spark, tmp_path):
    """S8: the reference's recursive S3 download of map outputs becomes
    ``spark.read.format('binaryFile')`` — frame bytes + metadata arrive
    ordered by path, which encodes the iteration order (O2)."""
    sizes = {}
    for i in range(3):
        p = tmp_path / f"output-iteration-{i:03d}.png"
        write_png(p, 2 + i, 1, bytes(3 * (2 + i)))
        sizes[p.name] = p.stat().st_size
    df = (
        spark.read.format("binaryFile")
        .load(f"{tmp_path}/*.png")
        .selectExpr("reverse(split(path, '/'))[0] AS name", "length", "content")
        .orderBy("name")
    )
    rows = df.collect()
    assert [r.name for r in rows] == sorted(sizes)
    assert all(r.length == sizes[r.name] == len(r.content) for r in rows)


def test_stitch_video_ffmpeg_present_branch(tmp_path, monkeypatch):
    """S9 ffmpeg-present branch (reference ``Reduce.ps1:8``).  The
    container has no real ffmpeg, so a stand-in executable on PATH
    receives the exact invocation; the test asserts stitch_video
    (a) passes concat-demuxer args with the manifest as input,
    (b) returns the materialized output path.  With a real ffmpeg on
    PATH the same code produces a real mp4 (the stand-in is only the
    codec, never the orchestration)."""
    import os
    import stat

    bindir = tmp_path / "bin"
    bindir.mkdir()
    fake = bindir / "ffmpeg"
    fake.write_text(
        "#!/usr/bin/env python3\n"
        "import pathlib, sys\n"
        "args = sys.argv[1:]\n"
        "assert '-f' in args and args[args.index('-f') + 1] == 'concat'\n"
        "manifest = pathlib.Path(args[args.index('-i') + 1])\n"
        "assert manifest.exists(), manifest\n"
        "pathlib.Path(args[-1]).write_bytes(b'FAKEMP4' + manifest.read_bytes())\n"
    )
    fake.chmod(fake.stat().st_mode | stat.S_IXUSR | stat.S_IXGRP | stat.S_IXOTH)
    monkeypatch.setenv("PATH", f"{bindir}{os.pathsep}{os.environ['PATH']}")

    frames = []
    for i in range(2):
        p = tmp_path / f"f{i:03d}.png"
        write_png(p, 1, 1, b"\x00\x00\x00")
        frames.append(p)
    out = tmp_path / "out.mp4"
    result = stitch_video(frames, out)
    assert result == out and out.read_bytes().startswith(b"FAKEMP4")
    manifest = (tmp_path / "out.frames.txt").read_text()
    assert manifest.splitlines() == [f"file '{p.resolve()}'" for p in frames]


def test_stitch_video_manifest_stub(tmp_path):
    frames = []
    for i in range(3):
        p = tmp_path / f"f{i:03d}.png"
        write_png(p, 1, 1, b"\x00\x00\x00")
        frames.append(p)
    out = tmp_path / "out.mp4"
    import shutil as _sh

    if _sh.which("ffmpeg"):
        assert stitch_video(frames, out).exists()
    else:
        with pytest.raises(NotImplementedError):
            stitch_video(frames, out)
    manifest = (tmp_path / "out.frames.txt").read_text()
    assert manifest.splitlines() == [f"file '{p.resolve()}'" for p in frames]
