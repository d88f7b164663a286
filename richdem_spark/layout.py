"""Layoutfile mosaics: read/write the reference's tiled-dataset manifest.

The reference's parallel programs exchange tiled DEMs as a directory of
same-shaped per-tile rasters plus a ``layout file`` — a CSV grid of
filenames where blank entries mean "no tile there" (treated as ocean /
NoData): ``common/Layoutfile.hpp:1-40``, merged back into one raster by
``apps/rd_merge_rasters_by_layout.cpp``.  A user migrating from those
programs has such mosaics on disk; this module ingests and emits them:

* :func:`read_layout` — ONE driver-side pass over the manifest (paths
  only, no pixel data), then every executor reads and decodes only its
  own tile files (``mapInPandas`` over the path table; GeoTIFF/BigTIFF
  via :func:`richdem_spark.gtiff.read_geotiff_array`, Arc ASCII via
  ``kernels.ascii_io``).  Blank slots become NoData-filled tiles.  The
  file grid IS the engine tiling — zero shuffle on ingest.
* :func:`write_layout` — the reverse: executors each encode and write
  their own tile file; the driver writes only the CSV manifest.

Scale shape: pixel bytes never pass through the driver in either
direction, and no shuffle occurs unless the caller re-tiles afterwards.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .tiles import TILE_SCHEMA, RasterMeta, TiledRaster, tile_frame

_PATH_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("path", StringType(), True),     # None = blank slot
    ]
)


def parse_layoutfile(layout_path: str) -> list[list[str | None]]:
    """CSV grid of tile filenames; blanks -> None; paths resolved
    relative to the layout file (Layoutfile.hpp:57-63)."""
    base = os.path.dirname(os.path.abspath(layout_path))
    raw: list[list[str]] = []
    with open(layout_path) as f:
        for line in f:
            raw.append([c.strip() for c in line.rstrip("\n").split(",")])
    # leading/trailing fully-blank lines are file formatting, not rows;
    # an INTERIOR blank line is a row of blank slots — skipping it would
    # silently shift every following tile row up one grid row (the
    # reference's LayoutfileReader keeps every line as a grid row)
    while raw and not any(raw[0]):
        raw.pop(0)
    while raw and not any(raw[-1]):
        raw.pop()
    if not raw:
        raise ValueError(f"empty layout file {layout_path}")
    # column count comes from rows that NAME tiles: a blank separator
    # row may carry any number of delimiters (',,,' from spreadsheet
    # exports) without widening — or narrowing — the grid
    named = [r for r in raw if any(r)]
    if not named:
        raise ValueError(f"empty layout file {layout_path}")
    ncols = max(len(r) for r in named)
    grid: list[list[str | None]] = []
    for r in raw:
        if not any(r):
            grid.append([None] * ncols)
            continue
        # a trailing comma-less cell is tolerated (pad one); anything
        # shorter is malformed, matching the reference's "rows not same
        # number of columns" error rather than silently padding
        if len(r) < ncols - 1:
            raise ValueError(
                f"layout rows do not have the same number of columns "
                f"in {layout_path}")
        grid.append([os.path.join(base, c) if c else None for c in r]
                    + [None] * (ncols - len(r)))
    return grid


def _read_tile_file(path: str) -> tuple[np.ndarray, float | None]:
    low = path.lower()
    if low.endswith((".tif", ".tiff")):
        from .gtiff import read_geotiff_array

        arr, info = read_geotiff_array(path)
        return arr, info["nodata"]
    from .kernels.ascii_io import read_ascii_grid

    arr, meta = read_ascii_grid(path)
    return arr, meta.get("nodata_value")


def read_layout(spark: SparkSession, layout_path: str,
                nodata: float | None = None) -> TiledRaster:
    """Mosaic a Layoutfile into a :class:`TiledRaster` whose tiling is
    the file grid.  ``nodata`` overrides the value used for blank
    slots (default: the probe tile's own NoData, else 0)."""
    grid = parse_layoutfile(layout_path)
    nty, ntx = len(grid), len(grid[0])
    probe_path = next(p for row in grid for p in row if p)
    probe, probe_nd = _read_tile_file(probe_path)
    th, tw = probe.shape
    nd = nodata if nodata is not None else probe_nd
    dtype = str(probe.dtype)
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    if probe_path.lower().endswith((".tif", ".tiff")):
        from .gtiff import parse_geotiff

        info = parse_geotiff(probe_path)
        g = info["geotransform"]
        # probe tile's transform shifted back to the mosaic origin
        # (its grid slot offsets whole tiles)
        py = next(i for i, row in enumerate(grid) if probe_path in row)
        px = grid[py].index(probe_path)
        gt = (g[0] - px * tw * g[1], g[1], g[2],
              g[3] - py * th * g[5], g[4], g[5])

    meta = RasterMeta(
        width=ntx * tw, height=nty * th, tile_w=tw, tile_h=th,
        nodata=nd, dtype=dtype, geotransform=gt,
    ).with_history(f"read_layout({layout_path})")

    rows = [(x, y, grid[y][x]) for y in range(nty) for x in range(ntx)]
    paths = spark.createDataFrame(rows, _PATH_SCHEMA).repartition(
        min(len(rows), spark.sparkContext.defaultParallelism))
    fill = float(nd) if nd is not None else 0.0

    def fetch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                if r.path is None:
                    a = np.full((th, tw), fill, np.dtype(dtype))
                else:
                    a, _ = _read_tile_file(r.path)
                    if a.shape != (th, tw):
                        raise ValueError(
                            f"layout tile {r.path} is {a.shape}, "
                            f"expected {(th, tw)} — all layout tiles "
                            "must share one shape (Layoutfile.hpp)")
                    a = a.astype(np.dtype(dtype), copy=False)
                rows.append((r.tile_x, r.tile_y, a, nd))
            yield tile_frame(rows)

    return TiledRaster(paths.mapInPandas(fetch, TILE_SCHEMA), meta)


_WROTE_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("fname", StringType(), False),
    ]
)


_CHECK_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("exists", IntegerType(), False),
        StructField("height", IntegerType(), True),
        StructField("width", IntegerType(), True),
    ]
)


def check_layout(spark: SparkSession, layout_path: str) -> dict:
    """Validate a Layoutfile (apps/rd_layout_check.py): grid shape,
    duplicate filenames, file existence — plus one check the reference
    app skips but ``read_layout`` enforces: every tile decodes to one
    shared (height, width).  Existence/shape probing is distributed
    (one executor task per batch of tile files); only the path list and
    per-file verdicts touch the driver."""
    grid = parse_layoutfile(layout_path)
    nty, ntx = len(grid), len(grid[0])
    paths = [p for row in grid for p in row if p]
    total = ntx * nty
    dupes = sorted({os.path.basename(p) for p in paths
                    if paths.count(p) > 1})

    def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _CHECK_SCHEMA.fields}
            for r in pdf.itertuples():
                h = w = None
                exists = int(os.path.exists(r.path))
                if exists:
                    try:
                        arr, _ = _read_tile_file(r.path)
                        h, w = int(arr.shape[0]), int(arr.shape[1])
                    except Exception:  # undecodable counts as bad
                        exists = 0
                out["path"].append(r.path)
                out["exists"].append(exists)
                out["height"].append(h)
                out["width"].append(w)
            yield pd.DataFrame(out)

    missing: list[str] = []
    shapes: set[tuple[int, int]] = set()
    if paths:
        pdf = spark.createDataFrame(
            [(0, 0, p) for p in sorted(set(paths))], _PATH_SCHEMA
        ).repartition(
            min(len(paths), spark.sparkContext.defaultParallelism))
        for r in pdf.mapInPandas(probe, _CHECK_SCHEMA).collect():
            if not r.exists:
                missing.append(os.path.basename(r.path))
            else:
                shapes.add((r.height, r.width))
    return {
        "layout_height": nty,
        "layout_width": ntx,
        "total_tiles": total,
        "null_tiles": total - len(paths),
        "data_tiles": len(paths),
        "duplicates": dupes,
        "missing": sorted(missing),
        "shapes": sorted([h, w] for h, w in shapes),
        "ok": not dupes and not missing and len(shapes) <= 1,
    }


def find_largest_square(layout_path: str):
    """Largest all-data square of tiles in a Layoutfile
    (apps/rd_layout_find_square.py): bottom-up min-of-three DP over the
    raw CSV rows.  Returns ``(size, (y, x), raw_rows)``.  Mirrors the
    reference's quirks: blank lines count as one-empty-cell rows, and
    the DP never seeds from the last row/column, so a 1-row or 1-column
    layout reports -1 exactly as the original script does."""
    with open(layout_path) as f:
        raw = [line.rstrip("\n").split(",") for line in f]
    occ = [[1 if c.strip() else 0 for c in row] for row in raw]
    best, loc = -1, None
    mat = [row[:] for row in occ]
    for y in range(len(mat) - 2, -1, -1):
        row, below = mat[y], mat[y + 1]
        for x in range(min(len(row), len(below)) - 2, -1, -1):
            if row[x] > 0:
                row[x] = min(below[x], row[x + 1], below[x + 1]) + 1
                if row[x] > best:
                    best, loc = row[x], (y, x)
    return best, loc, raw


def write_layout(tr: TiledRaster, out_dir: str,
                 name: str = "layout.layout",
                 compress: bool | str = True) -> str:
    """Write one GeoTIFF per tile plus the CSV manifest; returns the
    layout-file path.  Executors write their own tile files (the dir
    must be shared storage on a cluster); only filenames reach the
    driver."""
    os.makedirs(out_dir, exist_ok=True)
    meta = tr.meta
    if meta.width % meta.tile_w or meta.height % meta.tile_h:
        raise ValueError(
            "layout mosaics require same-shaped tiles "
            "(Layoutfile.hpp contract) — raster "
            f"{meta.width}x{meta.height} is not a multiple of the "
            f"{meta.tile_w}x{meta.tile_h} tiling; Expand() it first")

    class _LocalRaster:
        """Executor-side stand-in: write_geotiff only touches
        ``.to_array()`` and ``.meta`` (no session needed)."""

        def __init__(self, arr: np.ndarray, m: RasterMeta):
            self._arr, self.meta = arr, m

        def to_array(self) -> np.ndarray:
            return self._arr

    def write_one(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .gtiff import write_geotiff
        from .tiles import unpack

        for pdf in it:
            out = {f.name: [] for f in _WROTE_SCHEMA.fields}
            for r in pdf.itertuples():
                a = unpack(bytes(r.data), r.height, r.width, r.dtype)
                fname = f"tile_{r.tile_y}_{r.tile_x}.tif"
                g = meta.geotransform
                sub_gt = (g[0] + r.tile_x * meta.tile_w * g[1], g[1],
                          g[2],
                          g[3] + r.tile_y * meta.tile_h * g[5], g[4],
                          g[5])
                sub_meta = RasterMeta(
                    width=int(r.width), height=int(r.height),
                    tile_w=int(r.width), tile_h=int(r.height),
                    nodata=meta.nodata, dtype=r.dtype,
                    geotransform=sub_gt)
                write_geotiff(_LocalRaster(a, sub_meta),
                              os.path.join(out_dir, fname),
                              compress=compress,
                              rows_per_strip=max(int(r.height), 1))
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["fname"].append(fname)
            yield pd.DataFrame(out)

    wrote = {(r.tile_x, r.tile_y): r.fname
             for r in tr.df.mapInPandas(write_one, _WROTE_SCHEMA)
             .collect()}
    lines = []
    for ty in range(meta.ntiles_y):
        lines.append(",".join(
            wrote.get((tx, ty), "") for tx in range(meta.ntiles_x)))
    lp = os.path.join(out_dir, name)
    with open(lp, "w") as f:
        f.write("\n".join(lines) + "\n")
    return lp
