"""Driver-side render sinks: binned grid -> shaded PNG -> frame video.

Mirrors the reference's output stages (SURVEY.md §2.1 S6/S9, §2.3 A5):
``ds.tf.shade(agg, cmap=cc.fire)`` + ``export_image`` per month
(``src/awsbatch-map/main.py:76-85``) and the ffmpeg frame concat
(``Reduce.ps1:8``).  The distributed part — the 2-D histogram — stays
in the engine (``operators.histogram``); only the final <=1.4M-cell
grid is collected here, exactly as the reference collects per-task.

No image libraries are in this container, so the PNG encoder is a
dependency-free implementation of the spec (zlib + CRC chunks), and
the video stitch shells out to ffmpeg only if present — otherwise it
writes the ordered frame manifest and raises ``NotImplementedError``,
keeping the orchestration (collect frames in iteration order) real and
tested while stubbing the codec, as the build contract requires.
"""

from __future__ import annotations

import shutil
import struct
import subprocess
import zlib
from collections.abc import Iterable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame

# 8-color 'fire'-like ramp (black -> red -> orange -> yellow -> white),
# standing in for colorcet's cmap (public knowledge: standard heat ramp).
_FIRE = [
    (0, 0, 0),
    (60, 0, 0),
    (120, 20, 0),
    (180, 50, 0),
    (230, 100, 0),
    (255, 160, 0),
    (255, 220, 60),
    (255, 255, 255),
]
# one 256-byte ``bytes.translate`` table per RGB channel: level -> value
_FIRE_CHANNELS = [bytes(c[ch] for c in _FIRE).ljust(256, b"\0") for ch in range(3)]


def eq_hist_shade(counts: Sequence[int], n_levels: int = len(_FIRE)) -> list[int]:
    """Histogram-equalized level per cell (datashader's default
    ``how='eq_hist'``): rank-based mapping so every color level covers
    roughly the same number of *nonzero* cells.  Zero stays level 0.
    """
    nz = sorted(c for c in counts if c > 0)
    if not nz:
        return [0] * len(counts)
    # value -> quantile rank of its first occurrence (ties share a level)
    level_of: dict[int, int] = {}
    for i, v in enumerate(nz):
        if v not in level_of:
            q = i / len(nz)
            level_of[v] = 1 + min(int(q * (n_levels - 1)), n_levels - 2)
    return [level_of[c] if c > 0 else 0 for c in counts]


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def write_png(path: str | Path, width: int, height: int, rgb_rows: bytes) -> None:
    """Minimal RGB8 PNG encoder (no deps): IHDR + IDAT + IEND.

    ``rgb_rows`` is height rows of width*3 bytes, top to bottom.
    """
    if len(rgb_rows) != width * height * 3:
        raise ValueError("rgb_rows size mismatch")
    raw = b"".join(
        b"\x00" + rgb_rows[y * width * 3 : (y + 1) * width * 3]
        for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )
    Path(path).write_bytes(png)


def render_cells_png(
    cells: Iterable[tuple[int, int, int]], path: str | Path, width: int, height: int
) -> None:
    """Shade sparse ``(px, py, count)`` cells (off-grid ones dropped)
    into a ``width x height`` PNG, black background per
    ``export_image(.., background='black')`` at ``main.py:80-85``.
    Linear in cells + grid: one row-major densify, then one
    ``bytes.translate`` of the levels per RGB channel."""
    flat = [0] * (width * height)
    for px, py, c in cells:
        if 0 <= px < width and 0 <= py < height:
            flat[py * width + px] = c
    levels = bytes(eq_hist_shade(flat))
    rgb = bytearray(width * height * 3)
    for ch, table in enumerate(_FIRE_CHANNELS):
        rgb[ch::3] = levels.translate(table)
    write_png(path, width, height, bytes(rgb))


def render_grid_png(
    binned: DataFrame,
    path: str | Path,
    width: int,
    height: int,
    x_col: str = "px",
    y_col: str = "py",
    count_col: str = "cnt",
) -> None:
    """Collect a (sparse) binned grid and export a shaded PNG.  The
    collect is bounded: ``width*height`` cells regardless of input
    scale (1400x1000 in the reference)."""
    render_cells_png(
        binned.select(x_col, y_col, count_col).collect(), path, width, height
    )


def stitch_video(
    frame_paths: Sequence[str | Path],
    out_path: str | Path,
    framerate: int = 2,
) -> Path:
    """Ordered frame concat -> H.264, the reference's reduce
    (``Reduce.ps1:8``: ``ffmpeg -framerate 2 ... -c:v libx264``).

    Frames must already be in iteration order (the caller sorts — O2's
    ordering semantics).  Writes a deterministic ``frames.txt`` manifest
    next to the output either way; without ffmpeg in the container the
    codec step raises ``NotImplementedError`` after the manifest is
    written, so the orchestration remains testable.
    """
    out_path = Path(out_path)
    manifest = out_path.with_suffix(".frames.txt")
    manifest.write_text(
        "".join(f"file '{Path(p).resolve()}'\n" for p in frame_paths)
    )
    ffmpeg = shutil.which("ffmpeg")
    if ffmpeg is None:
        raise NotImplementedError(
            f"ffmpeg not available; ordered frame manifest written to {manifest}"
        )
    subprocess.run(
        [
            ffmpeg, "-y", "-f", "concat", "-safe", "0",
            "-r", str(framerate), "-i", str(manifest),
            "-c:v", "libx264", "-pix_fmt", "yuv420p", str(out_path),
        ],
        check=True,
        capture_output=True,
    )
    return out_path
