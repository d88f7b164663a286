"""Distributed watershed labelling.

``watershed_labels(dirs)`` labels every cell with the global flat index of
the terminal cell its D8 flow path reaches (an edge-outflow cell, a
NO_FLOW sink, or the last cell before draining off the DEM) — the
engine's analogue of ``PriorityFloodWatersheds_Barnes2014``
(``depressions/Barnes2014.hpp:713-807``).  On a filled+epsilon DEM every
watershed drains to a unique outlet, matching the reference's "cells
draining to a common edge point" semantics (label *values* are outlet
cell ids rather than flood-arrival order).

Two rounds, O(perimeter) communication: per-tile ``exit_cell_of`` pointer
compression; one global solve (ops/solve.py) resolves the cross-tile
exit-hop chains with path compression; the per-tile relabel reads the
resolved terminals back.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..constants import D8X, D8Y, FLOWDIR_NO_DATA
from ..kernels.d8 import exit_cell_of
from ..tiles import (
    TILE_SCHEMA, RasterMeta, TiledRaster, pack, tile_frame, unpack)
from .accum import _perimeter_indices
from .solve import perimeter_rows, solve_per_tile

_R1_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("dirs", BinaryType(), False),
        StructField("exits", BinaryType(), False),  # int64 per-cell exit
        StructField("px", ArrayType(IntegerType()), False),
        StructField("py", ArrayType(IntegerType()), False),
        StructField("qx", ArrayType(IntegerType()), False),
        StructField("qy", ArrayType(IntegerType()), False),
        StructField("qdir", ArrayType(IntegerType()), False),
        StructField("pvalid", ArrayType(IntegerType()), False),
    ]
)


def _round1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = {k: [] for k in (
            "tile_x", "tile_y", "width", "height", "dirs", "exits",
            "px", "py", "qx", "qy", "qdir", "pvalid")}
        for r in pdf.itertuples():
            dirs = unpack(r.data, r.height, r.width, r.dtype).astype(
                np.uint8
            )
            ex = exit_cell_of(dirs)
            pxs, pys = _perimeter_indices(r.height, r.width)
            flat = pys * r.width + pxs
            q = ex[flat]
            d = dirs.ravel()
            qdir = np.where(q >= 0, d[np.maximum(q, 0)], 0).astype(np.int64)
            qx = np.where(q >= 0, q % r.width, -1)
            qy = np.where(q >= 0, q // r.width, -1)
            tx_ = qx + D8X[np.clip(qdir, 0, 8)]
            ty_ = qy + D8Y[np.clip(qdir, 0, 8)]
            off = (
                (qdir >= 1) & (qdir <= 8)
                & ((tx_ < 0) | (tx_ >= r.width)
                   | (ty_ < 0) | (ty_ >= r.height))
            )
            qdir = np.where(off, qdir, 0)
            out["tile_x"].append(r.tile_x)
            out["tile_y"].append(r.tile_y)
            out["width"].append(r.width)
            out["height"].append(r.height)
            out["dirs"].append(pack(dirs))
            out["exits"].append(pack(ex))
            out["px"].append(pxs.astype("int32").tolist())
            out["py"].append(pys.astype("int32").tolist())
            out["qx"].append(qx.astype("int32").tolist())
            out["qy"].append(qy.astype("int32").tolist())
            out["qdir"].append(qdir.astype("int32").tolist())
            out["pvalid"].append(
                (d[flat] != FLOWDIR_NO_DATA).astype("int64").tolist()
            )
        yield pd.DataFrame(out)


def watershed_labels(dirs: TiledRaster) -> TiledRaster:
    meta = dirs.meta
    r1 = dirs.df.mapInPandas(_round1, _R1_SCHEMA).persist()

    tw, th, W, H = meta.tile_w, meta.tile_h, meta.width, meta.height

    def gid(t, x, y):
        return (t[1] * th + y) * W + (t[0] * tw + x)

    def solve(perim):
        """O(perimeter) route-chain resolution (FollowPath analogue)."""
        route = {}
        for row in perim:
            t = (row.tile_x, row.tile_y)
            for i in range(len(row.px)):
                route[(t, row.px[i], row.py[i])] = (
                    row.qx[i], row.qy[i], row.qdir[i],
                    bool(row.pvalid[i])
                )

        resolved: dict[tuple, int] = {}

        def resolve(c):
            """Terminal global id of the flow path entering at perimeter
            cell c; iterative with path compression."""
            chain = []
            cur = c
            while True:
                if cur in resolved:
                    term = resolved[cur]
                    break
                qx, qy, qdir, ok = route[cur]
                if not ok:
                    term = -1
                    break
                t = cur[0]
                if qdir == 0:
                    term = gid(t, qx, qy)
                    break
                gx = t[0] * tw + qx + int(D8X[qdir])
                gy = t[1] * th + qy + int(D8Y[qdir])
                if not (0 <= gx < W and 0 <= gy < H):
                    # drains off the DEM: the exit cell is the terminal
                    term = gid(t, qx, qy)
                    break
                t2 = (gx // tw, gy // th)
                nxt = (t2, gx - t2[0] * tw, gy - t2[1] * th)
                if nxt in chain or nxt == cur:
                    term = gid(t, qx, qy)  # loop guard (rd_loop_check)
                    break
                chain.append(cur)
                cur = nxt
            for cc in chain:
                resolved[cc] = term
            resolved[c] = term
            return term

        per_tile: dict[tuple, dict] = {}
        for c, (qx, qy, qdir, ok) in route.items():
            if not ok or qx < 0:
                continue
            t = c[0]
            per_tile.setdefault(t, {})[(qx, qy)] = resolve(c)

        return [
            (t[0], t[1],
             [int(k[0]) for k in d], [int(k[1]) for k in d],
             [int(v) for v in d.values()])
            for t, d in per_tile.items()
        ]

    schema = StructType([
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("ex", ArrayType(IntegerType()), False),
        StructField("ey", ArrayType(IntegerType()), False),
        StructField("eterm", ArrayType(LongType()), False),
    ])
    joined, routes_of = solve_per_tile(
        r1, ["tile_x", "tile_y", "px", "py", "qx", "qy", "qdir", "pvalid"],
        solve, schema, perimeter_rows(meta))

    def round2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                d = unpack(r.dirs, r.height, r.width, "uint8")
                ex = unpack(r.exits, r.height, r.width, "int64").copy()
                h, w = r.height, r.width
                # default: terminal = global id of the in-tile exit cell
                valid = ex.ravel() >= 0
                exf = np.maximum(ex.ravel(), 0)
                qx = exf % w
                qy = exf // w
                terms = ((r.tile_y * th + qy) * W
                         + (r.tile_x * tw + qx)).astype(np.int64)
                # overwrite where the exit continues into another tile
                routes = routes_of(r)
                if routes is not None and len(routes[0]):
                    rx, ry, rterm = routes
                    keys = np.array(
                        [yy * w + xx for xx, yy in zip(rx, ry)],
                        dtype=np.int64,
                    )
                    vals = np.array(list(rterm), dtype=np.int64)
                    order = np.argsort(keys)
                    keys, vals = keys[order], vals[order]
                    pos = np.searchsorted(keys, exf)
                    pos_c = np.clip(pos, 0, len(keys) - 1)
                    hit = (keys[pos_c] == exf) & valid
                    terms = np.where(hit, vals[pos_c], terms)
                terms[~valid] = -1
                out.append((r.tile_x, r.tile_y, terms.reshape(h, w), -1.0))
            yield tile_frame(out)

    out_df = joined.mapInPandas(round2, TILE_SCHEMA)
    new_meta = RasterMeta(
        width=meta.width, height=meta.height, tile_w=meta.tile_w,
        tile_h=meta.tile_h, nodata=-1.0, dtype="int64",
        geotransform=meta.geotransform, projection=meta.projection,
        history=meta.history,
    ).with_history("watershed_labels")
    return TiledRaster(out_df, new_meta)
