"""Distributed region/reachability operators.

* ``bucket_fill_from_edges`` — conditional flood fill from the grid
  edges (misc/misc_methods.hpp:258-334) as a two-wave connected-label
  exchange: per-tile CCL of ``check_value`` cells, O(perimeter) seam
  pairs union-found in one global solve, per-tile rewrite of seeded
  components.  The Barnes-2016 communication shape, applied to a
  boolean flood.
* ``upslope_cells`` — cells whose D8 flow path crosses a line segment
  (methods/d8_methods.hpp:167-236), as per-tile OR-flag pointer
  doubling (does my in-tile path hit the line?) + global resolution of
  the cross-tile exit chains + per-tile relabel — the watershed-labels
  machinery with a boolean payload.
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

from ..constants import D8X, D8Y, TOPO_D8
from ..kernels.ccl import label_components
from ..kernels.d8 import exit_cell_of
from ..kernels.misc import _bresenham
from ..tiles import (
    TILE_SCHEMA, RasterMeta, TiledRaster, pack, tile_frame, unpack)
from .solve import perimeter_rows, solve_per_tile

def seam_union_find(rows, topology):
    """Union-find over per-tile border component strips.  ``rows`` carry
    ``tile_x, tile_y`` and int64 strip blobs ``cmp_n cmp_s cmp_w cmp_e``
    (0 = not in any component); components touching across a tile seam
    (cardinal strips, plus diagonal 4-corners under D8) are unioned with
    min-root preference.  Returns ``(find, uf)`` — shared by the
    bucket-fill seed solve and the max_dep episode solve."""
    by_key = {(r.tile_x, r.tile_y): r for r in rows}
    uf: dict[int, int] = {}

    def find(x):
        r = x
        while uf.get(r, r) != r:
            r = uf[r]
        while uf.get(x, x) != x:
            uf[x], x = r, uf[x]
        return r

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            uf[max(ra, rb)] = min(ra, rb)

    offs = (-1, 0, 1) if topology == TOPO_D8 else (0,)
    for (tx, ty), r in by_key.items():
        for (dx2, dy2, col_a, col_b) in (
            (1, 0, "cmp_e", "cmp_w"),
            (0, 1, "cmp_s", "cmp_n"),
        ):
            other = by_key.get((tx + dx2, ty + dy2))
            if other is None:
                continue
            sa = np.frombuffer(getattr(r, col_a), dtype=np.int64)
            sb = np.frombuffer(getattr(other, col_b), dtype=np.int64)
            n = min(len(sa), len(sb))
            for off in offs:
                lo, hi = max(0, -off), min(n, n - off)
                aa = sa[lo:hi]
                bb = sb[lo + off : hi + off]
                mm = (aa > 0) & (bb > 0)
                for x, y in zip(aa[mm].tolist(), bb[mm].tolist()):
                    union(x, y)
        if topology == TOPO_D8:
            # 4-tile diagonal corners
            for ddx, ddy, ca, cb in (
                (1, 1, "cmp_s", "cmp_n"), (-1, 1, "cmp_s", "cmp_n")
            ):
                other = by_key.get((tx + ddx, ty + ddy))
                if other is None:
                    continue
                sa = np.frombuffer(getattr(r, ca), dtype=np.int64)
                sb = np.frombuffer(getattr(other, cb), dtype=np.int64)
                a_v = sa[-1] if ddx == 1 else sa[0]
                b_v = sb[0] if ddx == 1 else sb[-1]
                if a_v > 0 and b_v > 0:
                    union(int(a_v), int(b_v))
    return find, uf


_BF_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("comp", BinaryType(), False),    # int64 comp ids
        StructField("data", BinaryType(), False),    # original tile
        StructField("dt", BinaryType(), False),      # dtype string bytes
        StructField("edge_seeded", ArrayType(LongType()), False),
        StructField("cmp_n", BinaryType(), False),
        StructField("cmp_s", BinaryType(), False),
        StructField("cmp_w", BinaryType(), False),
        StructField("cmp_e", BinaryType(), False),
    ]
)


def bucket_fill_from_edges(
    tr: TiledRaster, check_value: float, fill_value: float,
    topology: str = TOPO_D8,
) -> TiledRaster:
    meta = tr.meta
    spark = tr.df.sparkSession
    ntx, nty = meta.ntiles_x, meta.ntiles_y
    conn = 8 if topology == TOPO_D8 else 4
    stride = meta.tile_w * meta.tile_h + 2

    def wave1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _BF_SCHEMA.fields}
            for r in pdf.itertuples():
                a = unpack(r.data, r.height, r.width, r.dtype)
                m = a == check_value
                comp = label_components(m, conn).astype(np.int64)
                base = (r.tile_y * ntx + r.tile_x) * stride
                comp = np.where(comp > 0, comp + base, 0)
                seeds = set()
                if r.tile_y == 0:
                    seeds.update(comp[0, :][m[0, :]].tolist())
                if r.tile_y == nty - 1:
                    seeds.update(comp[-1, :][m[-1, :]].tolist())
                if r.tile_x == 0:
                    seeds.update(comp[:, 0][m[:, 0]].tolist())
                if r.tile_x == ntx - 1:
                    seeds.update(comp[:, -1][m[:, -1]].tolist())
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(r.width)
                out["height"].append(r.height)
                out["comp"].append(pack(comp))
                out["data"].append(r.data)
                out["dt"].append(r.dtype.encode())
                out["edge_seeded"].append(sorted(seeds))
                out["cmp_n"].append(pack(comp[0, :]))
                out["cmp_s"].append(pack(comp[-1, :]))
                out["cmp_w"].append(pack(np.ascontiguousarray(
                    comp[:, 0])))
                out["cmp_e"].append(pack(np.ascontiguousarray(
                    comp[:, -1])))
            yield pd.DataFrame(out)

    st = tr.df.mapInPandas(wave1, _BF_SCHEMA).persist()

    def solve(rows):
        """Seam union-find over the collected strips; returns, per tile,
        the sorted list of that tile's seeded component ids (component
        ids embed their owner tile via the stride offset)."""
        find, uf = seam_union_find(rows, topology)

        seeded_roots = set()
        for r in rows:
            for s in r.edge_seeded:
                seeded_roots.add(find(int(s)))
        all_ids = set(uf) | seeded_roots
        per_tile: dict[int, list] = {}
        for x in all_ids:
            if find(x) in seeded_roots:
                per_tile.setdefault(x // stride, []).append(x)
        return [
            (owner % ntx, owner // ntx, sorted(ids))
            for owner, ids in per_tile.items()
        ]

    seed_schema = StructType([
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("seeded", ArrayType(LongType()), False),
    ])
    joined, seeded_of = solve_per_tile(
        st, ["tile_x", "tile_y", "edge_seeded",
             "cmp_n", "cmp_s", "cmp_w", "cmp_e"],
        solve, seed_schema, perimeter_rows(meta))

    src_nodata = meta.nodata

    def wave2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                dtype = r.dt.decode()
                a = unpack(r.data, r.height, r.width, dtype).copy()
                comp = unpack(r.comp, r.height, r.width, "int64")
                seeded = seeded_of(r)
                sd = np.array(list(seeded[0]) if seeded else [],
                              dtype=np.int64)
                m = comp > 0
                if m.any() and sd.size:
                    pos = np.searchsorted(sd, comp[m])
                    hit = sd[np.clip(pos, 0, sd.size - 1)] == comp[m]
                    mm = np.zeros_like(m)
                    mm[m] = hit
                    a[mm] = fill_value
                # propagate the source nodata so downstream per-tile
                # masking (Perimeter, aggregate_tiles) keeps working on
                # BucketFill output (meta.nodata is unchanged)
                out.append((r.tile_x, r.tile_y, a, src_nodata))
            yield tile_frame(out)

    out_df = joined.mapInPandas(wave2, TILE_SCHEMA)
    return TiledRaster(
        out_df,
        meta.with_history(
            f"bucket_fill_from_edges({check_value}->{fill_value})"),
    )


# ---------------------------------------------------------------------------
# upslope cells
# ---------------------------------------------------------------------------

_UP_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("line", BinaryType(), False),     # uint8 line cells
        StructField("flag", BinaryType(), False),     # uint8 in-tile hit
        StructField("exits", BinaryType(), False),    # int64 exit cell
        StructField("dirs", BinaryType(), False),
        # border routes: entry cell -> (in-tile hit, next tile entry)
        StructField("px", ArrayType(IntegerType()), False),
        StructField("py", ArrayType(IntegerType()), False),
        StructField("phit", ArrayType(IntegerType()), False),
        StructField("qx", ArrayType(IntegerType()), False),
        StructField("qy", ArrayType(IntegerType()), False),
        StructField("qdir", ArrayType(IntegerType()), False),
    ]
)


def upslope_cells(
    dirs: TiledRaster, x0: int, y0: int, x1: int, y1: int
) -> TiledRaster:
    meta = dirs.meta
    spark = dirs.df.sparkSession
    tw, th, W, H = meta.tile_w, meta.tile_h, meta.width, meta.height
    line = [(x, y) for x, y in _bresenham(x0, y0, x1, y1)
            if 0 <= x < W and 0 <= y < H]
    line_bc = spark.sparkContext.broadcast(line)

    from .accum import _perimeter_indices

    def wave1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.d8 import _neighbor_flat

        lcells = line_bc.value
        for pdf in it:
            out = {f.name: [] for f in _UP_SCHEMA.fields}
            for r in pdf.itertuples():
                h, w = r.height, r.width
                d = unpack(r.data, h, w, r.dtype).astype(np.uint8)
                marked = np.zeros(h * w, dtype=bool)
                x0t, y0t = r.tile_x * tw, r.tile_y * th
                for gx, gy in lcells:
                    lx, ly = gx - x0t, gy - y0t
                    if 0 <= lx < w and 0 <= ly < h:
                        marked[ly * w + lx] = True
                nxt, ok = _neighbor_flat(h, w, d.astype(np.int64))
                # OR-flag pointer doubling: does the in-tile path from
                # each cell (inclusive) touch a marked cell?
                flag = marked.copy()
                cur = np.where(ok, nxt, np.arange(h * w))
                # bounded doubling (valid dirs are acyclic; the cap is
                # a loop guard mirroring rd_loop_check)
                for _ in range(2 * int(np.ceil(np.log2(h * w + 2))) + 4):
                    nf = flag | flag[cur]
                    nc = cur[cur]
                    if np.array_equal(nf, flag) and np.array_equal(
                            nc, cur):
                        break
                    flag, cur = nf, nc
                ex = exit_cell_of(d)
                pxs, pys = _perimeter_indices(h, w)
                flat = pys * w + pxs
                q = ex[flat]
                dd = d.ravel()
                qdir = np.where(q >= 0, dd[np.maximum(q, 0)], 0).astype(
                    np.int64)
                qx = np.where(q >= 0, q % w, -1)
                qy = np.where(q >= 0, q // w, -1)
                tx_ = qx + D8X[np.clip(qdir, 0, 8)]
                ty_ = qy + D8Y[np.clip(qdir, 0, 8)]
                off = ((qdir >= 1) & (qdir <= 8)
                       & ((tx_ < 0) | (tx_ >= w)
                          | (ty_ < 0) | (ty_ >= h)))
                qdir = np.where(off, qdir, 0)
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(w)
                out["height"].append(h)
                out["line"].append(pack(
                    marked.reshape(h, w).astype(np.uint8)))
                out["flag"].append(pack(
                    flag.reshape(h, w).astype(np.uint8)))
                out["exits"].append(pack(ex))
                out["dirs"].append(pack(d))
                out["px"].append(pxs.astype("int32").tolist())
                out["py"].append(pys.astype("int32").tolist())
                out["phit"].append(
                    flag[flat].astype("int32").tolist())
                out["qx"].append(qx.astype("int32").tolist())
                out["qy"].append(qy.astype("int32").tolist())
                out["qdir"].append(qdir.astype("int32").tolist())
            yield pd.DataFrame(out)

    st = dirs.df.mapInPandas(wave1, _UP_SCHEMA).persist()

    def solve(perim):
        """Resolve exit-chain hits over the O(perimeter) route table."""
        route = {}
        for row in perim:
            t = (row.tile_x, row.tile_y)
            for i in range(len(row.px)):
                route[(t, row.px[i], row.py[i])] = (
                    bool(row.phit[i]), row.qx[i], row.qy[i], row.qdir[i]
                )

        resolved: dict[tuple, bool] = {}

        def resolve(c):
            """Does the flow path entering at perimeter cell c hit the
            line (anywhere downstream, incl. this tile)?"""
            chain = []
            cur = c
            while True:
                if cur in resolved:
                    val = resolved[cur]
                    break
                hit, qx, qy, qdir = route[cur]
                if hit:
                    val = True
                    break
                t = cur[0]
                if qdir == 0 or qx < 0:
                    val = False
                    break
                gx = t[0] * tw + qx + int(D8X[qdir])
                gy = t[1] * th + qy + int(D8Y[qdir])
                if not (0 <= gx < W and 0 <= gy < H):
                    val = False
                    break
                t2 = (gx // tw, gy // th)
                nxt_c = (t2, gx - t2[0] * tw, gy - t2[1] * th)
                if nxt_c == cur or nxt_c in chain:
                    val = False
                    break
                chain.append(cur)
                cur = nxt_c
            for cc in chain:
                resolved[cc] = val
            resolved[c] = val
            return val

        # per tile: exit cells whose DOWNSTREAM continuation (next tile
        # onward) hits the line
        per_tile: dict[tuple, set] = {}
        for c, (hit, qx, qy, qdir) in route.items():
            if qx < 0 or qdir == 0:
                continue
            t = c[0]
            gx = t[0] * tw + qx + int(D8X[qdir])
            gy = t[1] * th + qy + int(D8Y[qdir])
            if not (0 <= gx < W and 0 <= gy < H):
                continue
            t2 = (gx // tw, gy // th)
            entry = (t2, gx - t2[0] * tw, gy - t2[1] * th)
            if entry in route and resolve(entry):
                per_tile.setdefault(t, set()).add((qx, qy))

        return [
            (t[0], t[1], [int(k[0]) for k in s], [int(k[1]) for k in s])
            for t, s in per_tile.items()
        ]

    schema2 = StructType([
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("hx", ArrayType(IntegerType()), False),
        StructField("hy", ArrayType(IntegerType()), False),
    ])
    joined, hot_of = solve_per_tile(
        st, ["tile_x", "tile_y", "px", "py", "phit", "qx", "qy", "qdir"],
        solve, schema2, perimeter_rows(meta))

    def wave2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                lm = unpack(r.line, h, w, "uint8").ravel().astype(bool)
                fl = unpack(r.flag, h, w, "uint8").ravel().astype(bool)
                ex = unpack(r.exits, h, w, "int64").ravel()
                up = fl.copy()
                hot_exits = hot_of(r)
                if hot_exits is not None and len(hot_exits[0]):
                    hot = np.zeros(h * w, dtype=bool)
                    for xx, yy in zip(*hot_exits):
                        hot[yy * w + xx] = True
                    # cells whose in-tile path ends at a hot exit are
                    # upslope through the cross-tile continuation
                    up |= (ex >= 0) & hot[np.maximum(ex, 0)]
                res = np.zeros(h * w, dtype=np.uint8)
                res[up] = 2
                res[lm] = 1
                out.append((r.tile_x, r.tile_y, res.reshape(h, w), None))
            yield tile_frame(out)

    out_df = joined.mapInPandas(wave2, TILE_SCHEMA)
    new_meta = RasterMeta(
        width=W, height=H, tile_w=tw, tile_h=th, nodata=None,
        dtype="uint8", geotransform=meta.geotransform,
        projection=meta.projection, history=meta.history,
    ).with_history(f"d8_upslope_cells({x0},{y0},{x1},{y1})")
    return TiledRaster(out_df, new_meta)
