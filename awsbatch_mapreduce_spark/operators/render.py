"""Driver-side render sinks: binned grid -> shaded PNG -> frame video.

Mirrors the reference's output stages (SURVEY.md §2.1 S6/S9, §2.3 A5):
``ds.tf.shade(agg, cmap=cc.fire)`` + ``export_image`` per month
(``src/awsbatch-map/main.py:76-85``) and the ffmpeg frame concat
(``Reduce.ps1:8``).  The distributed part — the 2-D histogram — stays
in the engine (``operators.histogram``); only the final <=1.4M-cell
grid is collected here, exactly as the reference collects per-task.

One numpy kernel, ``shade_grid``, turns a dense row-major count grid
into a PNG: eq-hist levels by ``searchsorted`` over the sorted nonzero
counts, a palette gather, and the encoder.  numpy is the only
dependency (already loaded at set-up by the pandas UDFs); no image
libraries are in this container, so the PNG encoder implements the
spec itself (zlib + CRC chunks), and the video stitch shells out to
ffmpeg only if present — otherwise it writes the ordered frame
manifest and raises ``NotImplementedError``, keeping the orchestration
(collect frames in iteration order) real and tested while stubbing the
codec, as the build contract requires.
"""

from __future__ import annotations

import shutil
import struct
import subprocess
import zlib
from collections.abc import Sequence
from pathlib import Path

import numpy as np
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
_PALETTE = np.asarray(_FIRE, np.uint8)


def eq_hist_shade(
    counts: Sequence[int] | np.ndarray, n_levels: int = len(_FIRE)
) -> np.ndarray:
    """Histogram-equalized level per cell (datashader's default
    ``how='eq_hist'``): rank-based mapping so every color level covers
    roughly the same number of *nonzero* cells.  Zero stays level 0.

    A count's rank is the index of its first occurrence in the sorted
    nonzero counts, so ties share a level.
    """
    counts = np.asarray(counts)
    levels = np.zeros(counts.shape, np.uint8)
    nonzero = counts > 0
    nz = np.sort(counts[nonzero])
    if nz.size:
        q = np.searchsorted(nz, counts[nonzero], side="left") / nz.size
        rank = (q * (n_levels - 1)).astype(np.int64)
        levels[nonzero] = 1 + np.minimum(rank, n_levels - 2)
    return levels


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def write_png(
    path: str | Path, width: int, height: int, rgb_rows: bytes | np.ndarray
) -> None:
    """Minimal RGB8 PNG encoder: IHDR + IDAT + IEND.

    ``rgb_rows`` is any buffer of height rows of width*3 bytes, top to
    bottom; each row gets filter byte 0 (None).
    """
    rgb = np.frombuffer(rgb_rows, np.uint8)
    if rgb.size != width * height * 3:
        raise ValueError("rgb_rows size mismatch")
    raw = np.zeros((height, width * 3 + 1), np.uint8)
    raw[:, 1:] = rgb.reshape(height, width * 3)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )
    Path(path).write_bytes(png)


def shade_grid(
    flat_counts: np.ndarray, width: int, height: int, path: str | Path
) -> None:
    """Shade a dense row-major ``height*width`` count grid and export it
    as a PNG: eq-hist levels -> fire palette -> encoder.  Black
    background per ``export_image(.., background='black')`` at
    ``main.py:80-85``."""
    rgb = _PALETTE[eq_hist_shade(flat_counts)]
    write_png(path, width, height, rgb)


def render_grid_png(
    binned: DataFrame,
    path: str | Path,
    width: int,
    height: int,
    x_col: str = "px",
    y_col: str = "py",
    count_col: str = "cnt",
) -> None:
    """Collect a (sparse) binned grid and export a shaded PNG.

    The driver materialization is bounded: ``width*height`` cells
    regardless of input scale (1400x1000 in the reference).
    """
    flat = np.zeros(width * height, np.int64)
    for x, y, c in binned.select(x_col, y_col, count_col).collect():
        flat[y * width + x] = c
    shade_grid(flat, width, height, path)


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
