"""Distributed depression filling — the two-pass tile-merge algorithm
(Barnes 2016), re-derived Spark-first from
``programs/parallel_priority_flood/main.cpp``.

Execution plan (exactly the paper's O(perimeter) communication bound):

1. **Round 1** (mapInPandas, embarrassingly parallel): per-tile
   watershed-labelled Priority-Flood -> filled blob + label blob +
   in-tile spillover edges (kernels/fill.py:fill_tile_labels).
2. **Seam join** (one O(perimeter) shuffle): each tile emits its four
   border strips (labels + filled elevation) keyed by the canonical seam
   id; ``groupBy(seam)`` pairs adjacent strips and emits cross-tile
   label edges ``max(elev_a, elev_b)`` with the min saddle kept per pair
   (``HandleEdge``/``HandleCorner``, main.cpp:344-398).
3. **Global solve** (driver): aggregated Priority-Flood over the label
   graph seeded from the ocean at -inf (main.cpp:498-545).  The graph is
   |labels|-sized — ~4·sqrt(cells/tile) per tile — vastly smaller than
   the raster.
4. **Round 2** (one mapInPandas over round 1, on every tile): raise each
   cell to ``max(filled, graph_elev[label])`` (main.cpp:315-330).  A
   tile without water levels is repacked unchanged, so the output keeps
   the input's partitioning.  Small level sets ride in the round-2
   closure; larger ones are broadcast-joined on tile id.  If the solve
   raises nothing (and ``epsilon`` is off) round 2 is skipped and the
   round-1 grids are the output.
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

# Graphs at most this big are solved on the driver; larger ones run as
# a single-partition executor job (tests patch this down).  Placement
# math, not feasibility: a perimeter cell carries ~100 B of strips +
# edge rows, so 16 M cells ≈ 1.6 GB against the 24 GB driver — while
# the executor path pays a repartition(1) shuffle of the same bytes
# plus a single-threaded Arrow/Python hop, measured 2x the whole-job
# cost at the 16384²/t512 boundary (BASELINE.md round-5 correction).
# Above the limit the executor path is still the only O(perimeter)
# placement that avoids the driver heap.
import os as _os

# env override wins; None -> derived from the session's driver heap at
# call time (ops/solve.py:driver_solve_max — ADVICE r5: don't hard-code
# the bench container's 24 GB capacity)
DRIVER_SOLVE_MAX_PERIM = (
    int(_os.environ["SPARK_GRAFT_DRIVER_SOLVE_MAX"])
    if "SPARK_GRAFT_DRIVER_SOLVE_MAX" in _os.environ else None
)

_EDGE_SCHEMA = StructType(
    [
        StructField("a", LongType(), False),
        StructField("b", LongType(), False),
        StructField("z", DoubleType(), False),
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
    """Label edges across one facing strip pair (the driver-path twin of
    the ``run`` kernel above); appends (lo, hi, z) arrays to parts."""
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


# perimeter columns a driver-side edge build needs (tile blobs excluded)
_PERIM_COLS = [
    "tile_x", "tile_y", "edge_a", "edge_b", "edge_z",
    "lab_n", "lab_s", "lab_w", "lab_e",
    "elv_n", "elv_s", "elv_w", "elv_e",
    "lab_nw", "lab_ne", "lab_sw", "lab_se",
    "elv_nw", "elv_ne", "elv_sw", "elv_se",
]


def _driver_edges(rows, topology: str):
    """All label-graph edges from ONE collect of the round-1 perimeter
    columns.  Below the solve threshold the graph is O(perimeter) and
    already collected for the driver solve, so building the edges here
    replaces four shuffle stages (in-tile explode, two strip joins, the
    corner join, the (a,b)->min agg) with numpy over the same bytes —
    at bench tile counts those stages were 3x the cost of round 1
    itself.  Above the threshold the distributed edge pipeline runs
    unchanged."""
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


def _seam_edges_df(r1, meta: RasterMeta, topology: str):
    """Cross-tile label edges, computed with zero per-seam Python
    overhead: V/H seams are a strip JOIN (one row per seam) fed to an
    Arrow-batched mapInPandas; 4-tile corner seams reduce to scalar
    columns and stay entirely in JVM expressions
    (``HandleEdge``/``HandleCorner``, main.cpp:344-398)."""
    ntx, nty = meta.ntiles_x, meta.ntiles_y
    tx = F.col("tile_x")
    ty = F.col("tile_y")
    diag = topology == TOPO_D8

    # --- V and H seams: join the facing strips --------------------------
    v_a = r1.where(tx + 1 < ntx).select(
        tx.alias("sx"), ty.alias("sy"),
        F.col("lab_e").alias("lab_a"), F.col("elv_e").alias("elv_a"),
    )
    v_b = r1.where(tx > 0).select(
        (tx - 1).alias("sx"), ty.alias("sy"),
        F.col("lab_w").alias("lab_b"), F.col("elv_w").alias("elv_b"),
    )
    h_a = r1.where(ty + 1 < nty).select(
        tx.alias("sx"), ty.alias("sy"),
        F.col("lab_s").alias("lab_a"), F.col("elv_s").alias("elv_a"),
    )
    h_b = r1.where(ty > 0).select(
        tx.alias("sx"), (ty - 1).alias("sy"),
        F.col("lab_n").alias("lab_b"), F.col("elv_n").alias("elv_b"),
    )
    pairs = v_a.join(v_b, ["sx", "sy"]).unionByName(
        h_a.join(h_b, ["sx", "sy"])
    ).select("lab_a", "elv_a", "lab_b", "elv_b")

    offs = (-1, 0, 1) if diag else (0,)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lo_parts, hi_parts, z_parts = [], [], []
            for r in pdf.itertuples():
                la = np.frombuffer(r.lab_a, dtype=np.int64)
                lb = np.frombuffer(r.lab_b, dtype=np.int64)
                ea = np.frombuffer(r.elv_a, dtype=np.float64)
                eb = np.frombuffer(r.elv_b, dtype=np.float64)
                n = len(la)
                for off in offs:
                    lo, hi = max(0, -off), min(n, n - off)
                    l1 = la[lo:hi]
                    l2 = lb[lo + off : hi + off]
                    z = np.maximum(ea[lo:hi], eb[lo + off : hi + off])
                    neq = l1 != l2
                    if neq.any():
                        lo_parts.append(np.minimum(l1[neq], l2[neq]))
                        hi_parts.append(np.maximum(l1[neq], l2[neq]))
                        z_parts.append(z[neq])
            if not lo_parts:
                yield pd.DataFrame(
                    {"a": pd.Series([], dtype="int64"),
                     "b": pd.Series([], dtype="int64"),
                     "z": pd.Series([], dtype="float64")})
                continue
            # vectorized (a,b)->min(z) reduction: lexsort + reduceat
            aa, bb, zz = _reduce_edge_arrays(
                np.concatenate(lo_parts), np.concatenate(hi_parts),
                np.concatenate(z_parts))
            yield pd.DataFrame({"a": aa, "b": bb, "z": zz})

    strip_edges = pairs.mapInPandas(run, _EDGE_SCHEMA)

    if not diag:
        return strip_edges

    # --- 4-tile corner seams: diagonal pairs, scalar JVM arithmetic -----
    # BR corner of (sx,sy) vs TL corner of (sx+1,sy+1); BL of (sx+1,sy)
    # vs TR of (sx,sy+1)
    tl = r1.select(tx.alias("sx"), ty.alias("sy"),
                   F.col("lab_se").alias("l1"), F.col("elv_se").alias("e1"))
    br = r1.select((tx - 1).alias("sx"), (ty - 1).alias("sy"),
                   F.col("lab_nw").alias("l2"), F.col("elv_nw").alias("e2"))
    tr_ = r1.select((tx - 1).alias("sx"), ty.alias("sy"),
                    F.col("lab_sw").alias("l1"),
                    F.col("elv_sw").alias("e1"))
    bl = r1.select(tx.alias("sx"), (ty - 1).alias("sy"),
                   F.col("lab_ne").alias("l2"), F.col("elv_ne").alias("e2"))
    corners = tl.join(br, ["sx", "sy"]).unionByName(
        tr_.join(bl, ["sx", "sy"])
    )
    corner_edges = (
        corners.where(F.col("l1") != F.col("l2"))
        .select(
            F.least("l1", "l2").alias("a"),
            F.greatest("l1", "l2").alias("b"),
            F.greatest("e1", "e2").alias("z"),
        )
    )
    return strip_edges.unionByName(corner_edges)


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
    spark = tr.df.sparkSession

    r1 = tr.df.mapInPandas(_round1(meta, topology, metrics), _R1_SCHEMA).persist()

    stride = _label_stride(meta)
    ntx = meta.ntiles_x
    lvl_schema = StructType(
        [
            StructField("tid", IntegerType(), False),
            StructField("label", LongType(), False),
            StructField("level", DoubleType(), False),
        ]
    )
    # the graph is O(total perimeter); below the threshold the driver
    # solves it (one collect, lowest latency), above it the solve runs
    # as a single-partition executor job and the levels never touch the
    # driver (the reference's own scaling concern,
    # parallel_priority_flood/main.cpp:498-545 runs on the producer rank)
    perim_estimate = (
        meta.ntiles_x * meta.ntiles_y * 2 * (meta.tile_w + meta.tile_h)
    )
    from .solve import driver_solve_max

    driver_solved = perim_estimate <= driver_solve_max(
        spark, DRIVER_SOLVE_MAX_PERIM)
    if driver_solved:
        # Arrow collect (see ops/accum.py) — the strips dominate bytes
        perim = list(r1.select(*_PERIM_COLS).toPandas()
                     .itertuples(index=False))
        graph_elev = graph_priority_flood(_driver_edges(perim, topology))
        lvl_rows = [
            (int((l - 2) // stride), int(l), float(z))
            for l, z in graph_elev.items()
            if l > 1 and z != -np.inf
        ]
    else:
        in_tile_edges = r1.select(
            F.explode(F.arrays_zip("edge_a", "edge_b", "edge_z")).alias("e")
        ).select(
            F.col("e.edge_a").alias("a"),
            F.col("e.edge_b").alias("b"),
            F.col("e.edge_z").alias("z"),
        )
        # JVM-side partial aggregation keeps the label graph minimal
        edges_df = (
            in_tile_edges.unionByName(_seam_edges_df(r1, meta, topology))
            .groupBy("a", "b")
            .agg(F.min("z").alias("z"))
        )

        def exec_solve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from ..kernels.fill import graph_priority_flood as gpf

            edges = []
            for pdf in it:
                edges.extend(zip(pdf["a"].tolist(), pdf["b"].tolist(),
                                 pdf["z"].tolist()))
            ge = gpf(edges)
            rows = [
                (int((l - 2) // stride), int(l), float(z))
                for l, z in ge.items()
                if l > 1 and z != -np.inf
            ]
            if rows:
                yield pd.DataFrame(
                    {"tid": [r[0] for r in rows],
                     "label": [r[1] for r in rows],
                     "level": [r[2] for r in rows]}
                )

        lvl_flat = edges_df.repartition(1).mapInPandas(
            exec_solve, lvl_schema
        ).persist()
        if lvl_flat.rdd.isEmpty():
            lvl_flat = None

    lvl_struct = ArrayType(StructType([StructField("label", LongType()),
                                       StructField("level", DoubleType())]))
    # per-tile water levels reach round 2 one of two ways: small
    # driver solves ride in the round-2 closure (a few KB pickled per
    # task — no createDataFrame, no broadcast-exchange job, no join);
    # large ones are broadcast-joined on tile id
    lvl_map: dict[int, list] = {}
    lvl_df = None
    if driver_solved:
        # the solve ran on the driver, so the per-tile level lists are
        # already in hand: no pass over round 1 re-derives them
        by_tid: dict[int, list] = {}
        for tid_, lab_, lev_ in lvl_rows:
            by_tid.setdefault(tid_, []).append(
                {"label": lab_, "level": lev_})
        if len(lvl_rows) <= 10_000:
            lvl_map = by_tid
        else:
            lvl_df = spark.createDataFrame(
                [(t, [(s["label"], s["level"]) for s in v])
                 for t, v in by_tid.items()],
                StructType([StructField("tid", IntegerType(), False),
                            StructField("levels", lvl_struct)]))
    elif lvl_flat is not None:
        lvl_df = (
            lvl_flat
            .groupBy("tid")
            .agg(F.collect_list(F.struct("label", "level")).alias("levels"))
        )

    new_meta = replace(meta, dtype="float64").with_history(
        f"fill_depressions(topology={topology}, epsilon={epsilon})")
    if not epsilon and lvl_df is None and not lvl_map:
        # nothing to raise: round 1 packed the filled grid as float64,
        # with its border strips in elv_*; projected onto the tile
        # columns, that is the output
        return TiledRaster(r1.select(
            "tile_x", "tile_y", "width", "height", "dtype", "nodata",
            "data",
            F.col("elv_n").alias("hs_n"), F.col("elv_s").alias("hs_s"),
            F.col("elv_w").alias("hs_w"), F.col("elv_e").alias("hs_e"),
        ), new_meta)

    # round 2 runs on EVERY tile, as one mapInPandas over round 1, so the
    # output keeps the input's partitioning: a tile with no levels is
    # repacked unchanged (max with the -inf default is a no-op)
    levels_col = lvl_df is not None
    if levels_col:
        joined = r1.withColumn(
            "tid",
            (F.col("tile_y") * F.lit(ntx) + F.col("tile_x")).cast("int"),
        ).join(F.broadcast(lvl_df), "tid", "left")
    else:
        joined = r1

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
                levels = (
                    r.levels if levels_col
                    else lvl_map.get(int(r.tile_y) * ntx + int(r.tile_x))
                )
                if levels is not None and len(levels):
                    lk = np.array([int(s["label"]) for s in levels],
                                  dtype=np.int64)
                    lv = np.array([float(s["level"]) for s in levels])
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
