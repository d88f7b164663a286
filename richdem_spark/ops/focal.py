"""Generic focal (stencil) operator: per-tile kernel with 1-cell halo.

This is the engine's "window function" class — the 2-D analogue of
``Window.rowsBetween(-1, 1)`` — covering all eight terrain attributes
(``include/richdem/methods/terrain_attributes.hpp:335-354``), FindFlats,
D8/D-inf flow directions and every FM_* flow metric.

Execution shape: one O(perimeter) strip shuffle (halo_join) + one
mapInPandas wave.  No interior data is shuffled.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from ..tiles import (
    TILE_SCHEMA,
    RasterMeta,
    TiledRaster,
    assemble_padded,
    halo_join,
    tile_frame,
    unpack,
)


def apply_focal(
    tr: TiledRaster,
    kernel: Callable[..., np.ndarray],
    out_dtype: str = "float64",
    out_nodata: float | None = None,
    kernel_kwargs: dict | None = None,
    op_name: str = "focal",
    halo_fill: float | None = None,
    pass_coords: bool = False,
    metrics=None,
) -> TiledRaster:
    """Apply ``kernel(padded_grid, **kwargs) -> grid`` per tile with halo.

    The kernel sees the halo-padded array; sides on the global DEM edge are
    left unpadded so array-border semantics == global-border semantics.
    The core region of the kernel output is re-packed.
    """
    meta = tr.meta
    kw = dict(kernel_kwargs or {})
    nodata = meta.nodata
    fill = halo_fill if halo_fill is not None else (
        nodata if nodata is not None else 0.0
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                core = unpack(r.data, r.height, r.width, r.dtype)
                padded, pt, pl = assemble_padded(core, r.halo, r.dtype, fill)
                import time as _time

                t0 = _time.perf_counter()
                if pass_coords:
                    # global coordinates of padded[0,0] (for kernels with
                    # per-cell seeded RNG / global-id semantics)
                    kw2 = dict(
                        kw,
                        y0=r.tile_y * meta.tile_h - pt,
                        x0=r.tile_x * meta.tile_w - pl,
                        global_w=meta.width,
                    )
                    out = kernel(padded, **kw2)
                else:
                    out = kernel(padded, **kw)
                if metrics is not None:
                    metrics.record(
                        op_name, r.tile_x, r.tile_y,
                        r.width * r.height,
                        _time.perf_counter() - t0,
                    )
                core_out = out[pt : pt + r.height, pl : pl + r.width]
                rows.append((r.tile_x, r.tile_y,
                             core_out.astype(np.dtype(out_dtype)),
                             out_nodata))
            yield tile_frame(rows)

    out_df = halo_join(tr).mapInPandas(run, TILE_SCHEMA)
    new_meta = RasterMeta(
        width=meta.width, height=meta.height,
        tile_w=meta.tile_w, tile_h=meta.tile_h,
        nodata=out_nodata, dtype=out_dtype,
        geotransform=meta.geotransform, projection=meta.projection,
        history=meta.history,
    ).with_history(op_name)
    return TiledRaster(out_df, new_meta)


def elementwise(
    tr: TiledRaster,
    fn: Callable[[np.ndarray], np.ndarray],
    out_dtype: str | None = None,
    out_nodata: float | None = ...,
    op_name: str = "map",
) -> TiledRaster:
    """Per-cell map with no halo (replace/scale/classify class,
    Array2D.hpp:544-548,1406-1410).  Zero shuffles."""
    meta = tr.meta
    odt = out_dtype or meta.dtype
    ond = meta.nodata if out_nodata is ... else out_nodata

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield tile_frame(
                (r.tile_x, r.tile_y,
                 fn(unpack(r.data, r.height, r.width, r.dtype))
                 .astype(np.dtype(odt)), ond)
                for r in pdf.itertuples())

    out_df = tr.df.mapInPandas(run, TILE_SCHEMA)
    m = tr.meta
    new_meta = RasterMeta(
        width=m.width, height=m.height, tile_w=m.tile_w, tile_h=m.tile_h,
        nodata=ond, dtype=odt, geotransform=m.geotransform,
        projection=m.projection, history=m.history,
    ).with_history(op_name)
    return TiledRaster(out_df, new_meta)


def combine_tiles(
    a: "TiledRaster",
    b: "TiledRaster",
    fn,
    out_dtype: str = "float64",
    out_nodata: float | None = None,
    op_name: str = "combine",
) -> "TiledRaster":
    """Elementwise combination of two co-tiled rasters (the SPI/CTI /
    rd_compare class): equi-join on the tile key, zero extra shuffles when
    both sides share partitioning."""
    if (a.meta.width, a.meta.height, a.meta.tile_w, a.meta.tile_h) != (
        b.meta.width, b.meta.height, b.meta.tile_w, b.meta.tile_h
    ):
        raise ValueError("rasters must share grid and tiling")
    bd = b.df.select(
        "tile_x", "tile_y",
        b.df["data"].alias("data_b"), b.df["dtype"].alias("dtype_b"),
    )
    joined = a.df.join(bd, ["tile_x", "tile_y"])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield tile_frame(
                (r.tile_x, r.tile_y,
                 fn(unpack(r.data, r.height, r.width, r.dtype),
                    unpack(r.data_b, r.height, r.width, r.dtype_b))
                 .astype(np.dtype(out_dtype)), out_nodata)
                for r in pdf.itertuples())

    out_df = joined.mapInPandas(run, TILE_SCHEMA)
    m = a.meta
    new_meta = RasterMeta(
        width=m.width, height=m.height, tile_w=m.tile_w, tile_h=m.tile_h,
        nodata=out_nodata, dtype=out_dtype, geotransform=m.geotransform,
        projection=m.projection, history=m.history,
    ).with_history(op_name)
    return TiledRaster(out_df, new_meta)


def aggregate_tiles(tr: "TiledRaster", tile_fn, combine_fn, init,
                    with_coords: bool = False):
    """Two-level (tree) aggregation (min/max/count/surface-area class,
    Array2D.hpp:516-535,917-935): tile_fn(arr, nodata) -> partial;
    combine_fn reduces partials.  With ``with_coords=True`` the tile_fn
    is called as ``tile_fn(arr, nodata, tile_x, tile_y)`` (edge-aware
    aggregates).

    Scale shape: partials are combined per PARTITION inside the Python
    stage (executor-side map-side combine over every tile the partition
    holds), so the driver sees one tiny JSON row per partition — at
    10^6 tiles / 10^4 partitions that is 10^4 rows, never one per tile.
    """
    import json as _json

    from pyspark.sql.types import StringType as _S, StructField as _F, \
        StructType as _T

    schema = _T([_F("partial", _S(), False)])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in it:
            for r in pdf.itertuples():
                arr = unpack(r.data, r.height, r.width, r.dtype)
                p = (
                    tile_fn(arr, r.nodata, r.tile_x, r.tile_y)
                    if with_coords else tile_fn(arr, r.nodata)
                )
                acc = p if acc is None else combine_fn(acc, p)
        if acc is not None:
            yield pd.DataFrame({"partial": [_json.dumps(acc)]})

    out = init
    for row in tr.df.mapInPandas(run, schema).collect():
        out = combine_fn(out, _json.loads(row.partial))
    return out
