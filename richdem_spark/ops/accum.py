"""Distributed D8 flow accumulation — the two-pass perimeter-graph
algorithm (Barnes 2017), re-derived Spark-first from
``programs/parallel_d8_accum/main.cpp``.

1. **Round 1** (mapInPandas): per-tile local accumulation (Kahn kernel,
   kernels/d8.py) + per-cell in-tile exit computation (``FollowPath``,
   main.cpp:270-334, here vectorized pointer doubling).  Only the
   perimeter cells' records leave the tile — O(perimeter) rows.
2. **Global solve** (ops/solve.py decides where it runs): Kahn
   propagation over the cross-tile perimeter graph (``DownstreamCell``
   handoffs + in-tile transport links, main.cpp:647-862) producing
   per-entry-cell inflow offsets.
3. **Round 2** (mapInPandas): offsets are injected as point-source
   weights and propagated along in-tile paths with the same vectorized
   kernel — the batched equivalent of ``FollowPathAdd``
   (main.cpp:344-370); result = local + offset accumulation.

Flow into NoData disappears and flow off the global DEM edge leaves the
system, matching ``methods/d8_methods.hpp:47-139``.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..constants import D8X, D8Y, FLOWDIR_NO_DATA
from ..kernels.d8 import d8_flow_accum, exit_cell_of
from ..tiles import (
    TILE_SCHEMA, RasterMeta, TiledRaster, pack, tile_frame, unpack)
from .solve import perimeter_rows, solve_per_tile

_R1_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("dirs", BinaryType(), False),
        StructField("accum", BinaryType(), False),
        StructField("nodata", DoubleType(), True),
        # perimeter records: local x,y, local accum, exit cell qx,qy,
        # exit dir (0 if the path terminates in-tile)
        # perimeter records packed as int64/float64 blobs — binary
        # columns collect an order of magnitude faster than Python lists
        StructField("px", BinaryType(), False),
        StructField("py", BinaryType(), False),
        StructField("pacc", BinaryType(), False),
        StructField("qx", BinaryType(), False),
        StructField("qy", BinaryType(), False),
        StructField("qdir", BinaryType(), False),
        StructField("pvalid", BinaryType(), False),
    ]
)


def _perimeter_indices(h: int, w: int) -> tuple[np.ndarray, np.ndarray]:
    xs = [np.arange(w), np.arange(w)]
    ys = [np.zeros(w, dtype=np.int64), np.full(w, h - 1, dtype=np.int64)]
    if h > 2:
        mid = np.arange(1, h - 1)
        xs += [np.zeros(h - 2, dtype=np.int64), np.full(h - 2, w - 1,
                                                        dtype=np.int64)]
        ys += [mid, mid]
    return np.concatenate(xs), np.concatenate(ys)


def _round1(weights_mode: str):
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in (
                "tile_x", "tile_y", "width", "height", "dirs", "accum",
                "nodata", "px", "py", "pacc", "qx", "qy", "qdir", "pvalid")}
            for r in pdf.itertuples():
                dirs = unpack(r.data, r.height, r.width, r.dtype).astype(
                    np.uint8
                )
                w_arr = None
                if weights_mode == "column":
                    w_arr = unpack(r.wdata, r.height, r.width, "float64")
                acc = d8_flow_accum(dirs, weights=w_arr)
                _emit_r1_row(out, r, dirs, acc, r.nodata)
            yield pd.DataFrame(out)

    return run


def _serial_of(x, y, w, h):
    """Perimeter serial index matching _perimeter_indices' layout:
    top row, bottom row, left column (y=1..h-2), right column."""
    x = np.asarray(x)
    y = np.asarray(y)
    return np.where(
        y == 0, x,
        np.where(
            y == h - 1, w + x,
            np.where(x == 0, 2 * w + (y - 1), 2 * w + (h - 2) + (y - 1)),
        ),
    )


def _solve_perimeter_graph(perim_rows, meta: RasterMeta):
    """Kahn propagation over the cross-tile perimeter graph — fully
    vectorized construction (the driver's serial fraction governs scaling
    efficiency, so dict-of-tuples bookkeeping is replaced by flat numpy
    arrays over a global perimeter-cell numbering).

    Returns {(tile_x, tile_y): {(x, y): offset}} of external inflows.
    """
    ntx = meta.ntiles_x
    rows = sorted(perim_rows, key=lambda r: (r.tile_y, r.tile_x))
    ntile = len(rows)
    counts = np.array([len(r.px) // 8 for r in rows])
    base = np.zeros(ntile + 1, dtype=np.int64)
    np.cumsum(counts, out=base[1:])
    tid_of = {(r.tile_x, r.tile_y): i for i, r in enumerate(rows)}
    tdims = np.array([(r.width, r.height) for r in rows], dtype=np.int64)
    ttxy = np.array([(r.tile_x, r.tile_y) for r in rows], dtype=np.int64)

    def cat(field, dt):
        return np.concatenate(
            [np.frombuffer(getattr(r, field), dtype=dt) for r in rows]
        )

    px = cat("px", np.int64)
    py = cat("py", np.int64)
    qx = cat("qx", np.int64)
    qy = cat("qy", np.int64)
    qd = cat("qdir", np.int64)
    la = cat("pacc", np.float64)
    ok = cat("pvalid", np.int64) > 0
    tid = np.repeat(np.arange(ntile), counts)

    w_t = tdims[tid, 0]
    h_t = tdims[tid, 1]

    # node id of each perimeter cell's in-tile exit — defined ONLY when
    # the path leaves the tile (qd != 0); a path terminating at an
    # interior cell has no perimeter serial (interior coords would alias
    # onto unrelated perimeter nodes)
    has_route = ok & (qx >= 0) & (qd != 0)
    exit_nid = np.where(
        has_route, base[tid] + _serial_of(qx, qy, w_t, h_t), -1
    )

    # handoff target of each EXIT cell (vectorized over all cells; only
    # meaningful where qd != 0 at the cell itself)
    self_serial = base[tid] + _serial_of(px, py, w_t, h_t)
    # per-node arrays (indexable by node id)
    n_nodes = base[-1]
    node_qx = np.full(n_nodes, -1, dtype=np.int64)
    node_qx[self_serial] = qx
    node_qy = np.full(n_nodes, -1, dtype=np.int64)
    node_qy[self_serial] = qy
    node_qd = np.zeros(n_nodes, dtype=np.int64)
    node_qd[self_serial] = qd
    node_ok = np.zeros(n_nodes, dtype=bool)
    node_ok[self_serial] = ok
    node_la = np.zeros(n_nodes)
    node_la[self_serial] = la
    node_tid = np.zeros(n_nodes, dtype=np.int64)
    node_tid[self_serial] = tid
    node_x = np.zeros(n_nodes, dtype=np.int64)
    node_x[self_serial] = px
    node_y = np.zeros(n_nodes, dtype=np.int64)
    node_y[self_serial] = py
    node_exit = np.full(n_nodes, -1, dtype=np.int64)
    node_exit[self_serial] = exit_nid

    exit_ids = np.flatnonzero(
        node_ok & (node_qd >= 1) & (node_qd <= 8)
        & (node_x == node_qx) & (node_y == node_qy)
    )
    # exit cells are exactly nodes whose own dir leaves the tile; their
    # stored (qx,qy) is themselves
    gx = (ttxy[node_tid[exit_ids], 0] * meta.tile_w + node_x[exit_ids]
          + D8X[node_qd[exit_ids]])
    gy = (ttxy[node_tid[exit_ids], 1] * meta.tile_h + node_y[exit_ids]
          + D8Y[node_qd[exit_ids]])
    on_dem = (gx >= 0) & (gx < meta.width) & (gy >= 0) & (gy < meta.height)
    t2x = np.where(on_dem, gx // meta.tile_w, 0)
    t2y = np.where(on_dem, gy // meta.tile_h, 0)
    tid2 = np.array(
        [tid_of.get((int(a), int(b)), -1) for a, b in zip(t2x, t2y)],
        dtype=np.int64,
    )
    rx = gx - t2x * meta.tile_w
    ry = gy - t2y * meta.tile_h
    r_nid = np.where(
        on_dem & (tid2 >= 0),
        base[np.clip(tid2, 0, ntile - 1)]
        + _serial_of(rx, ry, tdims[np.clip(tid2, 0, ntile - 1), 0],
                     tdims[np.clip(tid2, 0, ntile - 1), 1]),
        -1,
    )
    r_valid = np.where(r_nid >= 0, node_ok[np.clip(r_nid, 0, n_nodes - 1)],
                       False)
    r_nid = np.where(r_valid, r_nid, -1)
    # successor exit node: the entry cell's own in-tile exit, if that
    # exit leaves its tile
    succ_exit = np.where(
        r_nid >= 0, node_exit[np.clip(r_nid, 0, n_nodes - 1)], -1
    )
    succ_is_exit = np.where(
        succ_exit >= 0,
        node_qd[np.clip(succ_exit, 0, n_nodes - 1)] != 0, False,
    )
    succ_exit = np.where(succ_is_exit, succ_exit, -1)

    # Kahn over exit nodes — level-synchronous WAVES, fully vectorized:
    # each wave pops every ready node at once (amount scatter via
    # np.add.at); wave count = longest cross-tile hop chain, O(tile-grid
    # diameter), so the driver's serial fraction no longer scales with
    # the total perimeter (it was the dominant serial term at 8192+)
    exit_index = np.full(n_nodes, -1, dtype=np.int64)
    exit_index[exit_ids] = np.arange(len(exit_ids))
    indeg = np.zeros(len(exit_ids), dtype=np.int64)
    se_idx = np.where(succ_exit >= 0, exit_index[np.clip(succ_exit, 0,
                                                         n_nodes - 1)], -1)
    np.add.at(indeg, se_idx[se_idx >= 0], 1)
    recv = np.zeros(len(exit_ids))
    node_off = np.zeros(n_nodes)

    ready = np.flatnonzero(indeg == 0)
    done = 0
    while ready.size:
        done += ready.size
        amounts = node_la[exit_ids[ready]] + recv[ready]
        rn = r_nid[ready]
        m = rn >= 0
        if m.any():
            np.add.at(node_off, rn[m], amounts[m])
        se = se_idx[ready]
        sm = se >= 0
        if sm.any():
            # zero-mass handoffs still decrement in-degrees (weighted
            # accumulation can carry 0 along a path) — else Kahn starves
            # and a live graph is misreported as a loop
            np.add.at(recv, se[sm], amounts[sm])
            np.subtract.at(indeg, se[sm], 1)
            cand = np.unique(se[sm])
            ready = cand[indeg[cand] == 0]
        else:
            ready = np.empty(0, dtype=np.int64)
    if done != len(exit_ids):
        raise RuntimeError(
            f"cross-tile flow loop detected: {len(exit_ids) - done} "
            "perimeter cells unresolved (cf. rd_loop_check)"
        )
    entry_offsets: dict[tuple, dict[tuple, float]] = defaultdict(dict)
    for nid in np.flatnonzero(node_off != 0.0).tolist():
        t2 = (int(ttxy[node_tid[nid], 0]), int(ttxy[node_tid[nid], 1]))
        entry_offsets[t2][(int(node_x[nid]), int(node_y[nid]))] = float(
            node_off[nid]
        )
    return entry_offsets


def _emit_r1_row(out, r, dirs, acc, nodata):
    """Shared round-1 row emission: perimeter records + blobs."""
    ex = exit_cell_of(dirs)
    h, w = dirs.shape
    pxs, pys = _perimeter_indices(h, w)
    flat = pys * w + pxs
    q = ex[flat]
    qx = np.where(q >= 0, q % w, -1).astype(np.int64)
    qy = np.where(q >= 0, q // w, -1).astype(np.int64)
    d = dirs.ravel()
    qdir = np.where(q >= 0, d[np.maximum(q, 0)], 0).astype(np.int64)
    tgt_x = qx + D8X[np.clip(qdir, 0, 8)]
    tgt_y = qy + D8Y[np.clip(qdir, 0, 8)]
    exits = (
        (qdir >= 1) & (qdir <= 8)
        & ((tgt_x < 0) | (tgt_x >= w) | (tgt_y < 0) | (tgt_y >= h))
    )
    qdir = np.where(exits, qdir, 0)
    valid = (d[flat] != FLOWDIR_NO_DATA).astype(np.int64)
    out["tile_x"].append(r.tile_x)
    out["tile_y"].append(r.tile_y)
    out["width"].append(w)
    out["height"].append(h)
    out["dirs"].append(pack(dirs))
    out["accum"].append(pack(acc))
    out["nodata"].append(nodata)
    out["px"].append(pack(pxs.astype(np.int64)))
    out["py"].append(pack(pys.astype(np.int64)))
    out["pacc"].append(pack(acc.ravel()[flat].astype(np.float64)))
    out["qx"].append(pack(qx.astype(np.int64)))
    out["qy"].append(pack(qy.astype(np.int64)))
    out["qdir"].append(pack(qdir.astype(np.int64)))
    out["pvalid"].append(pack(valid.astype(np.int64)))


def _round1_from_elev(meta: RasterMeta):
    """Fused FlowDirectionsD8 + local accumulation: ONE halo pass over
    the elevation tiles computes the flow directions AND the per-tile
    accumulation — the reference's per-tile sweep also fuses them
    (parallel_d8_accum/main.cpp:240-340); saves a full raster
    materialize + re-shuffle cycle vs dirs-then-accum."""
    from ..kernels.d8 import d8_flow_directions
    from ..tiles import assemble_padded

    nodata = meta.nodata
    fill = nodata if nodata is not None else 0.0

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in (
                "tile_x", "tile_y", "width", "height", "dirs", "accum",
                "nodata", "px", "py", "pacc", "qx", "qy", "qdir", "pvalid")}
            for r in pdf.itertuples():
                core = unpack(r.data, r.height, r.width, r.dtype)
                padded, pt, pl = assemble_padded(core, r.halo, r.dtype,
                                                 fill)
                dirs_p = d8_flow_directions(padded, nodata=nodata)
                dirs = np.ascontiguousarray(
                    dirs_p[pt : pt + r.height, pl : pl + r.width]
                ).astype(np.uint8)
                acc = d8_flow_accum(dirs)
                _emit_r1_row(out, r, dirs, acc, float(FLOWDIR_NO_DATA))
            yield pd.DataFrame(out)

    return run


def flow_accumulation_d8_from_elev(elev: TiledRaster) -> TiledRaster:
    """FA_D8 from elevations with the dirs pass fused into round 1."""
    from ..tiles import halo_join

    meta = elev.meta
    r1 = halo_join(elev).mapInPandas(
        _round1_from_elev(meta), _R1_SCHEMA
    ).persist()
    return _finish_accumulation(r1, meta)


def flow_accumulation_d8(
    dirs: TiledRaster, weights: TiledRaster | None = None
) -> TiledRaster:
    """Flow accumulation from a D8 flow-direction raster (tiled,
    two rounds, O(perimeter) communication).  ``weights`` optionally
    gives each cell's contribution (the reference's weights argument,
    pyRichDEM __init__.py:554-566); default 1 per data cell."""
    meta = dirs.meta

    if weights is not None:
        wdf = weights.df.select(
            "tile_x", "tile_y", weights.df["data"].alias("wdata")
        )
        src = dirs.df.join(wdf, ["tile_x", "tile_y"])
        r1 = src.mapInPandas(_round1("column"), _R1_SCHEMA).persist()
    else:
        r1 = dirs.df.mapInPandas(_round1("none"), _R1_SCHEMA).persist()
    return _finish_accumulation(r1, meta)


_OFF_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("ox", ArrayType(IntegerType()), False),
        StructField("oy", ArrayType(IntegerType()), False),
        StructField("oval", ArrayType(DoubleType()), False),
    ]
)

# round-1 columns the global solve reads (tile blobs excluded)
_PERIM_COLS = ["tile_x", "tile_y", "width", "height",
               "px", "py", "pacc", "qx", "qy", "qdir", "pvalid"]


def _finish_accumulation(r1, meta: RasterMeta) -> TiledRaster:

    def solve(rows):
        """Inflow offsets of every entry cell, grouped by tile."""
        return [
            (tx, ty,
             [int(k[0]) for k in d], [int(k[1]) for k in d],
             [float(v) for v in d.values()])
            for (tx, ty), d in _solve_perimeter_graph(rows, meta).items()
        ]

    joined, offsets_of = solve_per_tile(
        r1, _PERIM_COLS, solve, _OFF_SCHEMA, perimeter_rows(meta))

    def round2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                acc = unpack(r.accum, r.height, r.width, "float64").copy()
                ox, oy, oval = offsets_of(r) or ((), (), ())
                if len(ox):
                    d = unpack(r.dirs, r.height, r.width, "uint8")
                    inj = np.zeros((r.height, r.width))
                    for x, y, v in zip(ox, oy, oval):
                        inj[y, x] += v
                    add = d8_flow_accum(d, weights=inj)
                    add[add < 0] = 0.0  # NoData markers from the kernel
                    acc = acc + add
                    acc[unpack(r.accum, r.height, r.width,
                               "float64") < 0] = -1.0
                out.append((r.tile_x, r.tile_y, acc, -1.0))
            yield tile_frame(out)

    out_df = joined.mapInPandas(round2, TILE_SCHEMA)
    new_meta = RasterMeta(
        width=meta.width, height=meta.height, tile_w=meta.tile_w,
        tile_h=meta.tile_h, nodata=-1.0, dtype="float64",
        geotransform=meta.geotransform, projection=meta.projection,
        history=meta.history,
    ).with_history("flow_accumulation_d8")
    return TiledRaster(out_df, new_meta)
