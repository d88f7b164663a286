"""Distributed Strahler stream order over the tile table.

The reference left Strahler commented out
(``include/richdem/methods/strahler.hpp:5-46``); this operator fills
the gap with Spark-shaped semantics.  Strahler's (max, count-at-max)
combine is NOT linear, so the two-round closed form used for D8
accumulation (``ops/accum.py``) does not apply; instead the operator
iterates seam rounds, breach-style (``ops/breach.py:_run_walks``):

* **Round 0** runs the vectorized kernel on EVERY tile with no
  external inflows and emits each tile's seam-crossing out-edges
  ``(src cell, dst tile, dst cell, order)``.
* **Round k** recomputes ONLY the tiles whose inbound edge orders
  grew (orders are monotone non-decreasing: a new/raised inflow can
  only raise (max, count), hence downstream orders), emitting their
  refreshed out-edges.  Unchanged tiles keep their order blobs and
  edges — each round costs O(changed tiles), and every round's rows
  are O(perimeter of changed tiles).
* Convergence when no edge order grew.  Rounds are bounded by the
  longest tile-crossing flow path (ntiles_x + ntiles_y is a safe
  geometric bound for monotone-order growth on a DAG); a generous
  multiple is kept as a corruption tripwire.

Storage discipline mirrors breach: per-round results are eagerly
localCheckpoint'ed, the previous round's frames unpersisted, so
executor storage stays O(current state) on long chains.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

from ..constants import D8X, D8Y, FLOWDIR_NO_DATA
from ..kernels.strahler import strahler_order
from ..tiles import RasterMeta, TiledRaster, pack, tiles_from_state, unpack

# mixed per-group input/output rows:
#   kind 0 = tile state (dirs blob in round 0 / order blob out)
#   kind 1 = edge (in: inflow into this tile at (dy,dx) with ord;
#            out: seam crossing from (sy,sx) into tile (dtx,dty) cell
#            (dy,dx) with ord)
_ST_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("kind", IntegerType(), False),
        StructField("h", IntegerType(), True),
        StructField("w", IntegerType(), True),
        StructField("data", BinaryType(), True),
        StructField("sy", IntegerType(), True),
        StructField("sx", IntegerType(), True),
        StructField("dtx", IntegerType(), True),
        StructField("dty", IntegerType(), True),
        StructField("dy", IntegerType(), True),
        StructField("dx", IntegerType(), True),
        StructField("ord", IntegerType(), True),
    ]
)


def _round_fn(meta: RasterMeta):
    W, H = meta.width, meta.height
    tw, th = meta.tile_w, meta.tile_h

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        state = pdf[pdf["kind"] == 0]
        r = state.iloc[0]
        tx, ty = int(r.tile_x), int(r.tile_y)
        h, w = int(r.h), int(r.w)
        dirs = unpack(bytes(r.data), h, w, "uint8")

        inf = pdf[pdf["kind"] == 1]
        ext_m = ext_k = None
        if len(inf):
            ext_m = np.zeros((h, w), np.int64)
            ext_k = np.zeros((h, w), np.int64)
            iy = inf["dy"].to_numpy(np.int64)
            ix = inf["dx"].to_numpy(np.int64)
            io = inf["ord"].to_numpy(np.int64)
            flat = iy * w + ix
            sel = np.lexsort((io, flat))
            fs, os_ = flat[sel], io[sel]
            starts = np.flatnonzero(np.r_[True, fs[1:] != fs[:-1]])
            seg = np.diff(np.r_[starts, len(fs)])
            cells = fs[starts]
            bmax = os_[starts + seg - 1]
            bcnt = np.add.reduceat(
                (os_ == np.repeat(bmax, seg)).astype(np.int64), starts)
            ext_m.ravel()[cells] = bmax
            ext_k.ravel()[cells] = bcnt

        order = strahler_order(dirs, ext_m, ext_k)

        out = {f.name: [] for f in _ST_SCHEMA.fields}

        def add(kind, **kw):
            for f in _ST_SCHEMA.fields:
                if f.name == "tile_x":
                    out["tile_x"].append(tx)
                elif f.name == "tile_y":
                    out["tile_y"].append(ty)
                elif f.name == "kind":
                    out["kind"].append(kind)
                else:
                    out[f.name].append(kw.get(f.name))

        add(0, h=h, w=w, data=pack(order))
        # seam-crossing edges from the border ring
        d = dirs.astype(np.int64)
        flowing = (d >= 1) & (d <= 8)
        ys, xs = np.nonzero(flowing)
        dd = d[ys, xs]
        nx = xs + D8X[dd]
        ny = ys + D8Y[dd]
        off = (nx < 0) | (nx >= w) | (ny < 0) | (ny >= h)
        ys, xs, nx, ny = ys[off], xs[off], nx[off], ny[off]
        gx = tx * tw + nx
        gy = ty * th + ny
        ok = (gx >= 0) & (gx < W) & (gy >= 0) & (gy < H)
        for sy, sx, gxx, gyy in zip(ys[ok], xs[ok], gx[ok], gy[ok]):
            add(1, sy=int(sy), sx=int(sx),
                dtx=int(gxx // tw), dty=int(gyy // th),
                dy=int(gyy % th), dx=int(gxx % tw),
                ord=int(order[sy, sx]))
        return pd.DataFrame(out)

    return run


def strahler_order_tiled(
    dirs: TiledRaster, max_rounds: int | None = None,
    metrics: dict | None = None,
) -> TiledRaster:
    """Strahler order raster (int32, NoData -> -1) from a D8 direction
    raster.  ``metrics`` (optional dict) receives ``rounds`` and the
    per-round changed-tile counts."""
    meta = dirs.meta
    if max_rounds is None:
        # rounds needed = max number of tile-seam CROSSINGS along one
        # flow path; a meandering path may recross a single seam many
        # times, so the grid diameter is NOT a bound.  On an acyclic
        # direction field a path never revisits a cell, so crossings
        # are bounded by the total seam-cell count — use that (+slack)
        # and only then declare a cross-tile cycle.  This bound is
        # sound but enormous at scale; to DETECT corrupt (cyclic)
        # direction fields early, run LoopCheck (api.LoopCheck /
        # rd_loop_check) beforehand rather than waiting it out.
        max_rounds = (
            2 * meta.ntiles_x * meta.ntiles_y
            * (meta.tile_w + meta.tile_h) + 8
        )

    state = dirs.df.select(
        "tile_x", "tile_y",
        F.lit(0).alias("kind"),
        F.col("height").alias("h"), F.col("width").alias("w"), "data",
        *[F.lit(None).cast("int").alias(c)
          for c in ("sy", "sx", "dtx", "dty", "dy", "dx", "ord")],
    ).persist()

    rfn = _round_fn(meta)
    cur = state.groupBy("tile_x", "tile_y").applyInPandas(
        rfn, _ST_SCHEMA).persist()
    orders = cur.where(F.col("kind") == 0).localCheckpoint(eager=True)
    edges = cur.where(F.col("kind") == 1).localCheckpoint(eager=True)
    cur.unpersist()

    rounds_done = 1
    changed_counts: list[int] = []
    for _ in range(max_rounds):
        # edges keyed by destination; previous inflow view vs current:
        # monotone growth means a tile must recompute iff some inbound
        # edge's ord grew.  On round 1 every tile with ANY inbound edge
        # recomputes (round 0 assumed zero externals).
        if rounds_done == 1:
            changed = edges.select(
                F.col("dtx").alias("tile_x"), F.col("dty").alias("tile_y")
            ).distinct()
        n_changed = changed.count()
        changed_counts.append(n_changed)
        if n_changed == 0:
            break
        inflows = edges.join(
            changed.withColumnRenamed("tile_x", "dtx")
                   .withColumnRenamed("tile_y", "dty"),
            ["dtx", "dty"],
        ).select(
            F.col("dtx").alias("tile_x"), F.col("dty").alias("tile_y"),
            F.lit(1).alias("kind"),
            *[F.lit(None).cast("int").alias(c) for c in ("h", "w")],
            F.lit(None).cast("binary").alias("data"),
            F.lit(None).cast("int").alias("sy"),
            F.lit(None).cast("int").alias("sx"),
            F.lit(None).cast("int").alias("dtx"),
            F.lit(None).cast("int").alias("dty"),
            "dy", "dx", "ord",
        )
        sub_state = state.join(changed, ["tile_x", "tile_y"])
        nxt = sub_state.unionByName(inflows).groupBy(
            "tile_x", "tile_y").applyInPandas(rfn, _ST_SCHEMA).persist()
        new_orders = nxt.where(F.col("kind") == 0)
        new_edges = nxt.where(F.col("kind") == 1)
        # which destinations saw an inbound order GROW?
        old_sub = edges.join(changed, ["tile_x", "tile_y"]).select(
            "tile_x", "tile_y", "sy", "sx",
            F.col("ord").alias("old_ord"))
        grown = new_edges.join(
            old_sub, ["tile_x", "tile_y", "sy", "sx"], "left"
        ).where(F.col("old_ord").isNull()
                | (F.col("ord") > F.col("old_ord")))
        next_changed = grown.select(
            F.col("dtx").alias("tile_x"), F.col("dty").alias("tile_y")
        ).distinct().localCheckpoint(eager=True)
        # swap in the recomputed tiles' orders + edges
        keep_o = orders.join(changed, ["tile_x", "tile_y"], "left_anti")
        keep_e = edges.join(changed, ["tile_x", "tile_y"], "left_anti")
        orders = keep_o.unionByName(new_orders).localCheckpoint(eager=True)
        edges = keep_e.unionByName(new_edges).localCheckpoint(eager=True)
        nxt.unpersist()
        changed = next_changed
        rounds_done += 1
    else:
        raise RuntimeError(
            "strahler seam rounds exceeded the geometric bound — "
            "directions must contain a cross-tile cycle")
    if metrics is not None:
        metrics["rounds"] = rounds_done
        metrics["changed_tiles_per_round"] = changed_counts
    state.unpersist()

    out_df = tiles_from_state(
        orders.withColumnRenamed("w", "width")
        .withColumnRenamed("h", "height"), "data", "int32", -1.0)
    new_meta = RasterMeta(
        width=meta.width, height=meta.height,
        tile_w=meta.tile_w, tile_h=meta.tile_h,
        nodata=-1.0, dtype="int32",
        geotransform=meta.geotransform, projection=meta.projection,
    ).with_history("StrahlerOrder")
    return TiledRaster(out_df, new_meta)
