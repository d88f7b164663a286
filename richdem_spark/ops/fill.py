"""Distributed depression filling — the two-pass tile-merge algorithm
(Barnes 2016), re-derived Spark-first from
``programs/parallel_priority_flood/main.cpp``.

Execution plan (exactly the paper's O(perimeter) communication bound):

1. **Round 1** (mapInPandas, embarrassingly parallel): per-tile
   watershed-labelled Priority-Flood -> filled blob + label blob +
   in-tile spillover edges (kernels/fill.py:fill_tile_labels), plus
   each tile's border strips (labels + filled elevation) and corners.
2. **Global solve** (ops/solve.py decides where it runs): the label
   graph is built from the perimeter rows alone — in-tile edges plus
   ``max(elev_a, elev_b)`` across every facing strip pair and 4-tile
   corner, min saddle kept per pair (``HandleEdge``/``HandleCorner``,
   main.cpp:344-398) — and solved by an aggregated Priority-Flood
   seeded from the ocean at -inf (main.cpp:498-545).  The graph is
   |labels|-sized — ~4·sqrt(cells/tile) per tile — vastly smaller than
   the raster.
3. **Round 2** (one mapInPandas over round 1, on every tile): raise each
   cell to ``max(filled, graph_elev[label])`` (main.cpp:315-330).  A
   tile without water levels is repacked unchanged.  If a driver-placed
   solve raises nothing (and ``epsilon`` is off) round 2 is skipped and
   the round-1 grids are the output.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..constants import TOPO_D8
from ..kernels.fill import fill_tile_labels, graph_priority_flood
from ..tiles import (
    TILE_SCHEMA, RasterMeta, TiledRaster, pack, tile_frame, unpack)
from .solve import perimeter_rows, solve_per_tile

_R1_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("dtype", StringType(), False),
        StructField("nodata", DoubleType(), True),
        StructField("data", BinaryType(), False),      # filled elevations
        StructField("labels", BinaryType(), False),    # int64 labels
        StructField("edge_a", ArrayType(LongType()), False),
        StructField("edge_b", ArrayType(LongType()), False),
        StructField("edge_z", ArrayType(DoubleType()), False),
        # border strips (labels int64 / filled float64 blobs) emitted
        # inline so the seam join never re-reads the full tile blobs
        StructField("lab_n", BinaryType(), False),
        StructField("lab_s", BinaryType(), False),
        StructField("lab_w", BinaryType(), False),
        StructField("lab_e", BinaryType(), False),
        StructField("elv_n", BinaryType(), False),
        StructField("elv_s", BinaryType(), False),
        StructField("elv_w", BinaryType(), False),
        StructField("elv_e", BinaryType(), False),
        # corner scalars for the 4-tile diagonal seams (pure JVM joins)
        StructField("lab_nw", LongType(), False),
        StructField("lab_ne", LongType(), False),
        StructField("lab_sw", LongType(), False),
        StructField("lab_se", LongType(), False),
        StructField("elv_nw", DoubleType(), False),
        StructField("elv_ne", DoubleType(), False),
        StructField("elv_sw", DoubleType(), False),
        StructField("elv_se", DoubleType(), False),
    ]
)

_LEVEL_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("lvl_label", ArrayType(LongType()), False),
        StructField("lvl_level", ArrayType(DoubleType()), False),
    ]
)


def _label_stride(meta: RasterMeta) -> int:
    # label namespace per tile.  Terminal-basin labels are bounded by the
    # number of drain cells = perimeter + NoData-adjacent cells, and the
    # latter can approach the tile AREA on NoData-dense rasters — size the
    # stride to the area so tiles can never collide (labels are int64;
    # a sparse namespace costs nothing)
    return meta.tile_w * meta.tile_h + 8


def _round1(meta: RasterMeta, topology: str, metrics=None):
    stride = _label_stride(meta)
    ntx = meta.ntiles_x

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        for pdf in it:
            out = {f.name: [] for f in _R1_SCHEMA.fields}
            for r in pdf.itertuples():
                t0 = _time.perf_counter()
                a = unpack(r.data, r.height, r.width, r.dtype).astype(
                    np.float64
                )
                base = 2 + (r.tile_y * ntx + r.tile_x) * stride
                filled, labels, edges = fill_tile_labels(
                    a, r.nodata, meta.edge_mask(r.tile_x, r.tile_y), base,
                    topology,
                )
                if metrics is not None:
                    metrics.record(
                        "fill_round1", r.tile_x, r.tile_y,
                        r.width * r.height, _time.perf_counter() - t0,
                    )
                ea, eb, ez = [], [], []
                for (la, lb), z in edges.items():
                    ea.append(la)
                    eb.append(lb)
                    ez.append(float(z))
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(r.width)
                out["height"].append(r.height)
                out["dtype"].append("float64")
                out["nodata"].append(r.nodata)
                out["data"].append(pack(filled))
                out["labels"].append(pack(labels))
                out["edge_a"].append(ea)
                out["edge_b"].append(eb)
                out["edge_z"].append(ez)
                out["lab_n"].append(pack(labels[0, :]))
                out["lab_s"].append(pack(labels[-1, :]))
                out["lab_w"].append(pack(np.ascontiguousarray(
                    labels[:, 0])))
                out["lab_e"].append(pack(np.ascontiguousarray(
                    labels[:, -1])))
                out["elv_n"].append(pack(filled[0, :]))
                out["elv_s"].append(pack(filled[-1, :]))
                out["elv_w"].append(pack(np.ascontiguousarray(
                    filled[:, 0])))
                out["elv_e"].append(pack(np.ascontiguousarray(
                    filled[:, -1])))
                out["lab_nw"].append(int(labels[0, 0]))
                out["lab_ne"].append(int(labels[0, -1]))
                out["lab_sw"].append(int(labels[-1, 0]))
                out["lab_se"].append(int(labels[-1, -1]))
                out["elv_nw"].append(float(filled[0, 0]))
                out["elv_ne"].append(float(filled[0, -1]))
                out["elv_sw"].append(float(filled[-1, 0]))
                out["elv_se"].append(float(filled[-1, -1]))
            yield pd.DataFrame(out)

    return run


def _reduce_edge_arrays(aa, bb, zz):
    """(a, b) -> min(z) reduction, fully vectorized
    (lexsort + reduceat)."""
    order = np.lexsort((bb, aa))
    aa, bb, zz = aa[order], bb[order], zz[order]
    starts = np.flatnonzero(
        np.r_[True, (aa[1:] != aa[:-1]) | (bb[1:] != bb[:-1])]
    )
    return aa[starts], bb[starts], np.minimum.reduceat(zz, starts)


def _strip_pair_edges(parts, lab_a, elv_a, lab_b, elv_b, offs):
    """Label edges across one facing strip pair; appends (lo, hi, z)
    arrays to parts."""
    la = np.frombuffer(lab_a, dtype=np.int64)
    lb = np.frombuffer(lab_b, dtype=np.int64)
    ea = np.frombuffer(elv_a, dtype=np.float64)
    eb = np.frombuffer(elv_b, dtype=np.float64)
    n = len(la)
    for off in offs:
        lo, hi = max(0, -off), min(n, n - off)
        l1 = la[lo:hi]
        l2 = lb[lo + off:hi + off]
        z = np.maximum(ea[lo:hi], eb[lo + off:hi + off])
        neq = l1 != l2
        if neq.any():
            parts.append((np.minimum(l1[neq], l2[neq]),
                          np.maximum(l1[neq], l2[neq]), z[neq]))


# round-1 columns the global solve reads (tile blobs excluded)
_PERIM_COLS = [
    "tile_x", "tile_y", "edge_a", "edge_b", "edge_z",
    "lab_n", "lab_s", "lab_w", "lab_e",
    "elv_n", "elv_s", "elv_w", "elv_e",
    "lab_nw", "lab_ne", "lab_sw", "lab_se",
    "elv_nw", "elv_ne", "elv_sw", "elv_se",
]


def _label_edges(rows, topology: str):
    """All label-graph edges from the round-1 perimeter rows of every
    tile: the in-tile spillover edges plus the cross-tile edges of each
    facing strip pair and 4-tile corner (``HandleEdge``/``HandleCorner``,
    main.cpp:344-398), numpy over the rows the global solve already
    holds."""
    diag = topology == TOPO_D8
    offs = (-1, 0, 1) if diag else (0,)
    edges: list[tuple[int, int, float]] = []
    parts: list[tuple] = []
    by_xy = {(r.tile_x, r.tile_y): r for r in rows}
    for r in rows:
        edges.extend(zip(r.edge_a, r.edge_b, r.edge_z))
        right = by_xy.get((r.tile_x + 1, r.tile_y))
        if right is not None:
            _strip_pair_edges(parts, r.lab_e, r.elv_e,
                              right.lab_w, right.elv_w, offs)
        down = by_xy.get((r.tile_x, r.tile_y + 1))
        if down is not None:
            _strip_pair_edges(parts, r.lab_s, r.elv_s,
                              down.lab_n, down.elv_n, offs)
        if diag:
            dr = by_xy.get((r.tile_x + 1, r.tile_y + 1))
            if dr is not None and r.lab_se != dr.lab_nw:
                edges.append((min(r.lab_se, dr.lab_nw),
                              max(r.lab_se, dr.lab_nw),
                              max(r.elv_se, dr.elv_nw)))
            bl_t = by_xy.get((r.tile_x + 1, r.tile_y))
            tr_t = by_xy.get((r.tile_x, r.tile_y + 1))
            if (bl_t is not None and tr_t is not None
                    and bl_t.lab_sw != tr_t.lab_ne):
                edges.append((min(bl_t.lab_sw, tr_t.lab_ne),
                              max(bl_t.lab_sw, tr_t.lab_ne),
                              max(bl_t.elv_sw, tr_t.elv_ne)))
    if parts:
        aa, bb, zz = _reduce_edge_arrays(
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]))
        edges.extend(zip(aa.tolist(), bb.tolist(), zz.tolist()))
    return edges


def fill_depressions(
    tr: TiledRaster, topology: str = TOPO_D8, epsilon: bool = False,
    metrics=None,
) -> TiledRaster:
    """Distributed Priority-Flood depression fill.

    ``epsilon=True`` additionally applies the reference's
    ``np.nextafter`` drainage-gradient semantics
    (``depressions/Barnes2014.hpp:335-420``); v1 realizes it per-tile
    after the global raise, seeded from each tile's spill levels — exact
    for single-tile rasters, drainage-property-correct for multi-tile
    (see SURVEY.md §7.3).
    """
    meta = tr.meta

    r1 = tr.df.mapInPandas(_round1(meta, topology, metrics), _R1_SCHEMA).persist()

    stride = _label_stride(meta)
    ntx = meta.ntiles_x

    def solve(rows):
        """Water level of every raised label, grouped by owner tile."""
        by_tile: dict[int, tuple[list, list]] = {}
        for l, z in graph_priority_flood(_label_edges(rows, topology)).items():
            if l > 1 and z != -np.inf:
                labs, levs = by_tile.setdefault(int((l - 2) // stride),
                                                ([], []))
                labs.append(int(l))
                levs.append(float(z))
        return [(t % ntx, t // ntx, labs, levs)
                for t, (labs, levs) in by_tile.items()]

    joined, levels_of = solve_per_tile(
        r1, _PERIM_COLS, solve, _LEVEL_SCHEMA, perimeter_rows(meta))

    new_meta = replace(meta, dtype="float64").with_history(
        f"fill_depressions(topology={topology}, epsilon={epsilon})")
    if not epsilon and levels_of.empty:
        # nothing to raise: round 1 packed the filled grid as float64,
        # with its border strips in elv_*; projected onto the tile
        # columns, that is the output
        return TiledRaster(r1.select(
            "tile_x", "tile_y", "width", "height", "dtype", "nodata",
            "data",
            F.col("elv_n").alias("hs_n"), F.col("elv_s").alias("hs_s"),
            F.col("elv_w").alias("hs_w"), F.col("elv_e").alias("hs_e"),
        ), new_meta)

    # round 2 runs on EVERY tile, as one mapInPandas, and a tile with no
    # levels is repacked unchanged (max with the -inf default is a
    # no-op); on driver placement it maps round 1 itself, so the output
    # keeps the input's partitioning
    eps = bool(epsilon)

    def round2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.fill import priority_flood_fill

        for pdf in it:
            out = []
            for r in pdf.itertuples():
                filled = unpack(
                    r.data, r.height, r.width, "float64"
                ).copy()
                labels = unpack(r.labels, r.height, r.width, "int64")
                levels = levels_of(r)
                if levels is not None and len(levels[0]):
                    lk = np.asarray(levels[0], dtype=np.int64)
                    lv = np.asarray(levels[1], dtype=np.float64)
                    order = np.argsort(lk)
                    lk, lv = lk[order], lv[order]
                    # vectorized label -> water-level map; labels absent
                    # from the solve keep -inf (no raise)
                    pos = np.searchsorted(lk, labels.ravel())
                    pos_c = np.clip(pos, 0, len(lk) - 1)
                    hit = lk[pos_c] == labels.ravel()
                    raise_to = np.where(hit, lv[pos_c], -np.inf).reshape(
                        labels.shape
                    )
                    filled = np.maximum(filled, raise_to)
                if eps:
                    filled = priority_flood_fill(
                        filled, r.nodata, topology, epsilon=True
                    )
                out.append((r.tile_x, r.tile_y, filled, r.nodata))
            yield tile_frame(out)

    return TiledRaster(joined.mapInPandas(round2, TILE_SCHEMA), new_meta)
