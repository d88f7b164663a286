"""Distributed depression hierarchy (Barnes, Callaghan, Wickert 2020).

Spark-first re-derivation of
``include/richdem/depressions/depression_hierarchy.hpp:243-725`` built on
the same observation that makes the tiled fill exact: on a tie-free DEM
the reference's ocean-seeded Priority-Flood pops cells in global
elevation order, so every cell is claimed by its *lowest neighbour* —
the leaf-depression partition IS the steepest-descent basin partition,
and the claim flowdirs ARE the descent pointers.  That partition is
computable tile-locally with a 1-cell halo plus an O(perimeter)
cross-tile pointer resolution.

Waves (all O(perimeter + #leaves) communication):

A. **Pointers** (halo_join + mapInPandas): per-tile steepest-descent /
   plateau pointers with *global* flat-index semantics; in-tile pointer
   doubling resolves each cell to (in-tile pit root | ocean | first
   off-tile hop).  Border-cell routes + in-tile pit list go to one
   global solve (ops/solve.py), which path-compresses the hop chains
   (cf. ``FollowPath``, programs/parallel_d8_accum/main.cpp:270-334 —
   the same pattern the accumulation op uses).
B. **Relabel + outlet partials** (mapInPandas): cells relabel to their
   global pit root; in-tile outlet database (min saddle per label pair,
   depression_hierarchy.hpp:475-530) is computed vectorized; border
   strips are emitted for the seam outlets.
C. **Seam outlets** (strip join, the ops/fill.py shape): cross-tile
   label pairs' saddles.
D. **Volumes + final labels** (mapInPandas): cells relabel to dense leaf
   ids; marginal-volume partials per hierarchy node via the prefix-max
   outlet-chain searchsorted (CalculateMarginalVolumes,
   depression_hierarchy.hpp:792-868) aggregate map-side.

The driver performs the outlet sort + union-find merge
(:561-702, shared with the single-grid kernel via
``kernels.dephier.merge_outlet_db``).

Tie semantics: flat plateaus are resolved by global flat-index order
(pit plateaus unify into one leaf; draining terraces are absorbed into
the basin they spill into at plateau level), which reproduces the
reference's radix-heap claim semantics up to the arbitrary assignment
of flat cells between adjacent basins; on tie-free DEMs the output is
identical to the single-grid kernel (asserted in tests at >=3 tilings).
"""

from __future__ import annotations

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
    StructField,
    StructType,
)

from ..constants import D8X, D8Y, TOPO_D8
from ..kernels.dephier import (
    NO_VALUE,
    OCEAN,
    Depression,
    _calculate_total_volumes,
    merge_outlet_db,
)
from ..tiles import (
    TILE_SCHEMA,
    RasterMeta,
    TiledRaster,
    assemble_padded,
    halo_join,
    pack,
    tile_frame,
    tiles_from_state,
    unpack,
)
from .solve import perimeter_rows, solve_collect, solve_per_tile

_BIG = np.iinfo(np.int64).max

_A_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("nodata", DoubleType(), True),
        StructField("flowdirs", BinaryType(), False),  # uint8 h*w
        StructField("term", BinaryType(), False),      # int64 h*w encoded
        StructField("data", BinaryType(), False),      # dem float64
        # border routes: own gidx -> encoded terminal (O(perimeter))
        StructField("bg", BinaryType(), False),
        StructField("bt", BinaryType(), False),
        # in-tile pit roots: gidx + elev
        StructField("rg", BinaryType(), False),
        StructField("re", BinaryType(), False),
    ]
)

# terminal encoding: >=0 impossible; -1 = ocean; even -(2+2g) = root g;
# odd -(2+2g+1) = hop to border cell g of a neighbouring tile
_OCEAN_ENC = -1


def _enc_root(g):
    return -(2 + (g << 1))


def _enc_hop(g):
    return -(3 + (g << 1))


def _dec(e):
    v = -e - 2
    return v >> 1, v & 1  # (gidx, 0=root/1=hop)


def _slots(topology):
    return range(1, 9) if topology == TOPO_D8 else (1, 3, 5, 7)


def _wave_a(meta: RasterMeta, topology: str, custom_ocean: bool = False):
    """``custom_ocean=True``: rows carry ``omask``/``ohalo`` (uint8
    ocean-mask tile + halo, pyRichDEM's ``labels_in == OCEAN`` cells,
    __init__.py:815-864) and the mask REPLACES the default
    border+NoData ocean definition entirely (the reference kernel's
    semantics for user labels)."""
    W, H = meta.width, meta.height
    tw, th = meta.tile_w, meta.tile_h
    nodata = meta.nodata
    slots = list(_slots(topology))

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _A_SCHEMA.fields}
            for r in pdf.itertuples():
                raw = unpack(r.data, r.height, r.width, r.dtype)
                core = raw.astype(np.float64)
                padded, pt, pl = assemble_padded(
                    raw, r.halo, r.dtype, np.nan
                )
                padded = padded.astype(np.float64)
                h, w = r.height, r.width
                # embed into a full 1-ring frame; off-DEM = +inf
                full = np.full((h + 2, w + 2), np.inf)
                full[1 - pt : 1 - pt + padded.shape[0],
                     1 - pl : 1 - pl + padded.shape[1]] = padded
                full[np.isnan(full)] = np.inf
                x0 = r.tile_x * tw - 1   # global x of full[:,0]
                y0 = r.tile_y * th - 1
                gxs = x0 + np.arange(w + 2)
                gys = y0 + np.arange(h + 2)
                oc = np.zeros((h + 2, w + 2), dtype=bool)
                if custom_ocean:
                    om = unpack(r.omask, h, w, "uint8")
                    opad, opt, opl = assemble_padded(
                        om, r.ohalo, "uint8", 0)
                    oc[1 - opt: 1 - opt + opad.shape[0],
                       1 - opl: 1 - opl + opad.shape[1]] = \
                        opad.astype(bool)
                else:
                    oc[:, (gxs == 0) | (gxs == W - 1)] = True
                    oc[(gys == 0) | (gys == H - 1), :] = True
                    if nodata is not None:
                        oc |= full == nodata
                oc &= np.isfinite(full)  # off-DEM frame is not ocean

                cv = full[1 : 1 + h, 1 : 1 + w]
                oc_core = oc[1 : 1 + h, 1 : 1 + w]
                gidx = ((y0 + 1 + np.arange(h))[:, None] * W
                        + (x0 + 1 + np.arange(w))[None, :])

                best = np.full((h, w), np.inf)
                bslot = np.zeros((h, w), dtype=np.int64)
                eq_land = np.full((h, w), _BIG, dtype=np.int64)
                eq_land_slot = np.zeros((h, w), dtype=np.int64)
                eq_oc = np.full((h, w), _BIG, dtype=np.int64)
                eq_oc_slot = np.zeros((h, w), dtype=np.int64)
                for n in slots:
                    dy, dx = int(D8Y[n]), int(D8X[n])
                    nv = full[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
                    no = oc[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
                    upd = nv < best
                    if upd.any():
                        best[upd] = nv[upd]
                        bslot[upd] = n
                    goff = dy * W + dx
                    eq = nv == cv
                    if eq.any():
                        tgt = gidx + goff
                        m = eq & no
                        if m.any():
                            better = m & (tgt < eq_oc)
                            eq_oc[better] = tgt[better]
                            eq_oc_slot[better] = n
                        if goff < 0:
                            m = eq & ~no
                            if m.any():
                                better = m & (tgt < eq_land)
                                eq_land[better] = tgt[better]
                                eq_land_slot[better] = n

                flow = np.zeros((h, w), dtype=np.uint8)
                # state per cell for the in-tile resolve
                state = np.empty(h * w, dtype=np.int64)
                land = ~oc_core

                lower = land & (best < cv)
                flow[lower] = bslot[lower]
                # plateau: prefer an equal-elevation ocean neighbour (the
                # ocean flood claims coastal flats first), else the
                # smaller-global-index equal land neighbour
                plat_oc = land & ~lower & (eq_oc < _BIG)
                flow[plat_oc] = eq_oc_slot[plat_oc]
                plat_land = land & ~lower & ~plat_oc & (eq_land < _BIG)
                flow[plat_land] = eq_land_slot[plat_land]
                root = land & ~lower & ~plat_oc & ~plat_land

                # fill states: parent gidx per pointered cell
                par_g = np.where(
                    lower,
                    gidx + (D8Y[bslot] * W + D8X[bslot]),
                    np.where(plat_land, eq_land, gidx),
                )
                # is the chosen lower parent an ocean cell?
                par_is_oc = np.zeros((h, w), dtype=bool)
                for n in slots:
                    dy, dx = int(D8Y[n]), int(D8X[n])
                    m = lower & (bslot == n)
                    if m.any():
                        no = oc[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
                        par_is_oc[m] = no[m]

                sf = state.reshape(h, w)
                sf[...] = 0
                # terminal states
                sf[oc_core] = _OCEAN_ENC
                sf[root] = _enc_root(gidx[root])
                sf[(lower & par_is_oc) | plat_oc] = _OCEAN_ENC
                chase = land & ~root & ~((lower & par_is_oc) | plat_oc)
                # chase targets: in-core -> local idx; off-core -> hop
                pg = par_g[chase]
                py = pg // W - (y0 + 1)
                px = pg % W - (x0 + 1)
                in_core = (py >= 0) & (py < h) & (px >= 0) & (px < w)
                vals = np.where(in_core, py * w + px, _enc_hop(pg))
                sf[chase] = vals

                st = state
                while True:
                    ns = np.where(st >= 0, st[np.maximum(st, 0)], st)
                    if np.array_equal(ns, st):
                        break
                    st = ns
                term = st  # all < 0 now

                # border rows: own gidx + terminal
                bmask = np.zeros((h, w), dtype=bool)
                bmask[0, :] = bmask[-1, :] = True
                bmask[:, 0] = bmask[:, -1] = True
                bsel = bmask.ravel()
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(w)
                out["height"].append(h)
                out["nodata"].append(r.nodata)
                out["flowdirs"].append(pack(flow))
                out["term"].append(pack(term.reshape(h, w)))
                out["data"].append(pack(core))
                out["bg"].append(pack(gidx.ravel()[bsel]))
                out["bt"].append(pack(term[bsel]))
                rsel = root.ravel()
                out["rg"].append(pack(gidx.ravel()[rsel]))
                out["re"].append(pack(cv.ravel()[rsel]))
            yield pd.DataFrame(out)

    return run


def _resolve_hops(border_rows):
    """Resolve border-cell hop chains to their terminals by vectorized
    pointer doubling over the global border-cell table (log(longest
    chain) rounds of fancy indexing — no per-cell Python; chains
    strictly decrease (elev, gidx), hence terminate).  Returns
    {border gidx: final encoded terminal (root/ocean)}."""
    bgs = [np.frombuffer(r.bg, dtype=np.int64) for r in border_rows]
    bts = [np.frombuffer(r.bt, dtype=np.int64) for r in border_rows]
    if not bgs:
        return {}
    bg = np.concatenate(bgs)
    bt = np.concatenate(bts)
    order = np.argsort(bg)
    bg, bt = bg[order], bt[order]

    val = bt.copy()
    idx = np.arange(len(bg))
    g, kind = _dec(val)
    is_hop = (val != _OCEAN_ENC) & (kind == 1)
    ptr = idx.copy()
    if is_hop.any():
        pos = np.searchsorted(bg, g[is_hop])
        ptr[is_hop] = np.clip(pos, 0, len(bg) - 1)
    while True:
        gv, kv = _dec(val)
        hop = (val != _OCEAN_ENC) & (kv == 1)
        if not hop.any():
            break
        nval = np.where(hop, val[ptr], val)
        ptr = ptr[ptr]
        if np.array_equal(nval, val):
            raise RuntimeError("unresolvable hop chain (cycle?)")
        val = nval
    return dict(zip(bg.tolist(), val.tolist()))


_B_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("labg", BinaryType(), False),   # int64 root-gidx labels
        # in-tile outlet partials
        StructField("oa", ArrayType(LongType()), False),
        StructField("ob", ArrayType(LongType()), False),
        StructField("oc", ArrayType(LongType()), False),
        StructField("oz", ArrayType(DoubleType()), False),
        # border strips for the seam outlets: labels + elevs + gidx
        StructField("lab_n", BinaryType(), False),
        StructField("lab_s", BinaryType(), False),
        StructField("lab_w", BinaryType(), False),
        StructField("lab_e", BinaryType(), False),
        StructField("elv_n", BinaryType(), False),
        StructField("elv_s", BinaryType(), False),
        StructField("elv_w", BinaryType(), False),
        StructField("elv_e", BinaryType(), False),
        StructField("gix_n", BinaryType(), False),
        StructField("gix_s", BinaryType(), False),
        StructField("gix_w", BinaryType(), False),
        StructField("gix_e", BinaryType(), False),
    ]
)

_OUT_SCHEMA = StructType(
    [
        StructField("a", LongType(), False),
        StructField("b", LongType(), False),
        StructField("c", LongType(), False),
        StructField("z", DoubleType(), False),
    ]
)


def _pair_outlets(la, lb, ea, eb, ga, gb):
    """Vectorized outlet candidates for two adjacent cell vectors:
    out_elev = max(elevs), out_cell = the higher cell's gidx
    (depression_hierarchy.hpp:475-530)."""
    m = la != lb
    if not m.any():
        return None
    la, lb, ea, eb, ga, gb = (v[m] for v in (la, lb, ea, eb, ga, gb))
    hi_b = eb > ea
    oz = np.where(hi_b, eb, ea)
    ocell = np.where(hi_b, gb, ga)
    a = np.minimum(la, lb)
    b = np.maximum(la, lb)
    return a, b, ocell, oz


def _min_outlets(parts):
    """Aggregate (a,b)->min (z, cell) over candidate arrays."""
    best: dict[tuple, tuple] = {}
    for p in parts:
        if p is None:
            continue
        a, b, c, z = p
        for aa, bb, cc, zz in zip(a.tolist(), b.tolist(), c.tolist(),
                                  z.tolist()):
            k = (aa, bb)
            v = (zz, cc)
            if k not in best or v < best[k]:
                best[k] = v
    return best


def _wave_b(meta: RasterMeta, topology: str, hops_of):
    """Relabel to global pit roots + in-tile outlets + border strips.
    ``hops_of(row)`` gives each tile the resolved terminals of its
    neighbours' border cells as ``(mkeys, mvals)`` arrays."""
    W = meta.width
    tw, th = meta.tile_w, meta.tile_h
    slots_f = (5, 6, 7, 8) if topology == TOPO_D8 else (5, 7)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _B_SCHEMA.fields}
            for r in pdf.itertuples():
                h, w = r.height, r.width
                term = unpack(r.term, h, w, "int64").ravel()
                elev = unpack(r.data, h, w, "float64")
                mkeys, mvals = hops_of(r) or ((), ())
                keys = np.array(list(mkeys), dtype=np.int64)
                vals = np.array(list(mvals), dtype=np.int64)
                # decode: ocean -> -1; root -> gidx; hop -> resolve
                g, kind = _dec(term)
                lab = np.where(term == _OCEAN_ENC, -1, g)
                hop = (term != _OCEAN_ENC) & (kind == 1)
                if hop.any():
                    pos = np.searchsorted(keys, g[hop])
                    enc = vals[np.clip(pos, 0, len(keys) - 1)]
                    g2, _k2 = _dec(enc)
                    lab[hop] = np.where(enc == _OCEAN_ENC, -1, g2)
                lab2 = lab.reshape(h, w)

                y0 = r.tile_y * th
                x0 = r.tile_x * tw
                gidx = ((y0 + np.arange(h))[:, None] * W
                        + (x0 + np.arange(w))[None, :])
                # in-tile outlet candidates over forward shifts; centre
                # slice = cells whose slot-n neighbour stays in the tile
                parts = []
                for n in slots_f:
                    dy, dx = int(D8Y[n]), int(D8X[n])
                    csl = (slice(max(0, -dy), h - max(0, dy)),
                           slice(max(0, -dx), w - max(0, dx)))
                    nsl = (slice(max(0, dy), h - max(0, -dy)),
                           slice(max(0, dx), w - max(0, -dx)))
                    p = _pair_outlets(
                        lab2[csl].ravel(), lab2[nsl].ravel(),
                        elev[csl].ravel(), elev[nsl].ravel(),
                        gidx[csl].ravel(), gidx[nsl].ravel(),
                    )
                    parts.append(p)
                best = _min_outlets(parts)

                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(w)
                out["height"].append(h)
                out["labg"].append(pack(lab2))
                out["oa"].append([k[0] for k in best])
                out["ob"].append([k[1] for k in best])
                out["oc"].append([v[1] for v in best.values()])
                out["oz"].append([v[0] for v in best.values()])
                out["lab_n"].append(pack(lab2[0, :]))
                out["lab_s"].append(pack(lab2[-1, :]))
                out["lab_w"].append(pack(np.ascontiguousarray(lab2[:, 0])))
                out["lab_e"].append(pack(np.ascontiguousarray(lab2[:, -1])))
                out["elv_n"].append(pack(elev[0, :]))
                out["elv_s"].append(pack(elev[-1, :]))
                out["elv_w"].append(pack(np.ascontiguousarray(elev[:, 0])))
                out["elv_e"].append(pack(np.ascontiguousarray(elev[:, -1])))
                out["gix_n"].append(pack(gidx[0, :]))
                out["gix_s"].append(pack(gidx[-1, :]))
                out["gix_w"].append(pack(np.ascontiguousarray(gidx[:, 0])))
                out["gix_e"].append(pack(np.ascontiguousarray(gidx[:, -1])))
            yield pd.DataFrame(out)

    return run


def _seam_outlets(b_df, meta: RasterMeta, topology: str):
    """Cross-tile outlet candidates via facing border strips (the
    ops/fill.py seam-join shape; HandleEdge/HandleCorner analogue)."""
    ntx, nty = meta.ntiles_x, meta.ntiles_y
    tx, ty = F.col("tile_x"), F.col("tile_y")
    diag = topology == TOPO_D8

    def side(df, cond, sx, sy, labc, elvc, gixc, suf):
        return df.where(cond).select(
            sx.alias("sx"), sy.alias("sy"),
            F.col(labc).alias(f"lab_{suf}"),
            F.col(elvc).alias(f"elv_{suf}"),
            F.col(gixc).alias(f"gix_{suf}"),
        )

    v_a = side(b_df, tx + 1 < ntx, tx, ty, "lab_e", "elv_e", "gix_e", "a")
    v_b = side(b_df, tx > 0, tx - 1, ty, "lab_w", "elv_w", "gix_w", "b")
    h_a = side(b_df, ty + 1 < nty, tx, ty, "lab_s", "elv_s", "gix_s", "a")
    h_b = side(b_df, ty > 0, tx, ty - 1, "lab_n", "elv_n", "gix_n", "b")
    pairs = v_a.join(v_b, ["sx", "sy"]).unionByName(
        h_a.join(h_b, ["sx", "sy"])
    ).select("lab_a", "elv_a", "gix_a", "lab_b", "elv_b", "gix_b")

    offs = (-1, 0, 1) if diag else (0,)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parts = []
            for r in pdf.itertuples():
                la = np.frombuffer(r.lab_a, dtype=np.int64)
                lb = np.frombuffer(r.lab_b, dtype=np.int64)
                ea = np.frombuffer(r.elv_a, dtype=np.float64)
                eb = np.frombuffer(r.elv_b, dtype=np.float64)
                ga = np.frombuffer(r.gix_a, dtype=np.int64)
                gb = np.frombuffer(r.gix_b, dtype=np.int64)
                n = len(la)
                for off in offs:
                    lo, hi = max(0, -off), min(n, n - off)
                    parts.append(_pair_outlets(
                        la[lo:hi], lb[lo + off : hi + off],
                        ea[lo:hi], eb[lo + off : hi + off],
                        ga[lo:hi], gb[lo + off : hi + off],
                    ))
            best = _min_outlets(parts)
            yield pd.DataFrame(
                {
                    "a": [k[0] for k in best],
                    "b": [k[1] for k in best],
                    "c": [v[1] for v in best.values()],
                    "z": [v[0] for v in best.values()],
                }
            ) if best else pd.DataFrame(
                {"a": pd.Series([], dtype="int64"),
                 "b": pd.Series([], dtype="int64"),
                 "c": pd.Series([], dtype="int64"),
                 "z": pd.Series([], dtype="float64")}
            )

    strip = pairs.mapInPandas(run, _OUT_SCHEMA)
    if not diag:
        return strip

    # 4-tile diagonal corners: BR of (sx,sy) vs TL of (sx+1,sy+1);
    # BL of (sx+1,sy) vs TR of (sx,sy+1) — corner scalars from strips
    def corners_run(it):
        for pdf in it:
            parts = []
            for r in pdf.itertuples():
                la = np.frombuffer(r.lab_a, dtype=np.int64)
                lb = np.frombuffer(r.lab_b, dtype=np.int64)
                ea = np.frombuffer(r.elv_a, dtype=np.float64)
                eb = np.frombuffer(r.elv_b, dtype=np.float64)
                ga = np.frombuffer(r.gix_a, dtype=np.int64)
                gb = np.frombuffer(r.gix_b, dtype=np.int64)
                parts.append(_pair_outlets(
                    la[[r.ia]], lb[[r.ib]], ea[[r.ia]], eb[[r.ib]],
                    ga[[r.ia]], gb[[r.ib]],
                ))
            best = _min_outlets(parts)
            yield pd.DataFrame(
                {
                    "a": [k[0] for k in best],
                    "b": [k[1] for k in best],
                    "c": [v[1] for v in best.values()],
                    "z": [v[0] for v in best.values()],
                }
            ) if best else pd.DataFrame(
                {"a": pd.Series([], dtype="int64"),
                 "b": pd.Series([], dtype="int64"),
                 "c": pd.Series([], dtype="int64"),
                 "z": pd.Series([], dtype="float64")}
            )

    tl = b_df.select(
        tx.alias("sx"), ty.alias("sy"),
        F.col("lab_s").alias("lab_a"), F.col("elv_s").alias("elv_a"),
        F.col("gix_s").alias("gix_a"),
        (F.col("width") - 1).alias("ia"),
    )
    br = b_df.select(
        (tx - 1).alias("sx"), (ty - 1).alias("sy"),
        F.col("lab_n").alias("lab_b"), F.col("elv_n").alias("elv_b"),
        F.col("gix_n").alias("gix_b"), F.lit(0).alias("ib"),
    )
    tr_ = b_df.select(
        (tx - 1).alias("sx"), ty.alias("sy"),
        F.col("lab_s").alias("lab_a"), F.col("elv_s").alias("elv_a"),
        F.col("gix_s").alias("gix_a"), F.lit(0).alias("ia"),
    )
    bl = b_df.select(
        tx.alias("sx"), (ty - 1).alias("sy"),
        F.col("lab_n").alias("lab_b"), F.col("elv_n").alias("elv_b"),
        F.col("gix_n").alias("gix_b"),
        (F.col("width") - 1).alias("ib"),
    )
    c1 = tl.join(br, ["sx", "sy"])
    c2 = tr_.join(bl, ["sx", "sy"])
    corners = c1.unionByName(c2).mapInPandas(corners_run, _OUT_SCHEMA)
    return strip.unionByName(corners)


def build_outlet_chains(deps):
    """Binary-lifting tables for the containing-depression climb
    (depression_hierarchy.hpp:792-868).

    The reference's per-cell walk stops at the FIRST chain node whose
    prefix-max outlet elevation >= the cell elevation.  A dense
    (n_deps x max_chain_depth) matrix answers that with one searchsorted
    but costs O(n^2) memory on monotone saddle valley-chains (depth
    O(n)); these tables cost O(n log n) and answer the same query with a
    vectorized greedy binary descent (:func:`climb_outlet_chains`).

    Returns ``(anc, pm)`` of shape (L, n+1): ``anc[k][c]`` = chain node
    reached after skipping the 2^k nodes starting at ``c`` (inclusive);
    ``pm[k][c]`` = max outlet elevation over those 2^k nodes.  Node
    ``n`` is the terminal sentinel (out_elev +inf, self-loop); the
    ocean (dep 0) also carries +inf so climbs from it return 0.
    """
    n = len(deps)
    oe = np.full(n + 1, np.inf)
    nxt = np.full(n + 1, n, dtype=np.int64)
    for i in range(1, n):
        d = deps[i]
        if np.isfinite(d.out_elev):
            oe[i] = d.out_elev
        p = d.parent
        if not d.ocean_parent and p not in (OCEAN, NO_VALUE):
            nxt[i] = p
    levels = max(1, int(np.ceil(np.log2(max(n, 2)))) + 1)
    anc = np.empty((levels, n + 1), dtype=np.int64)
    pm = np.empty((levels, n + 1))
    anc[0] = nxt
    pm[0] = oe
    for k in range(1, levels):
        anc[k] = anc[k - 1][anc[k - 1]]
        pm[k] = np.maximum(pm[k - 1], pm[k - 1][anc[k - 1]])
    return anc, pm


def climb_outlet_chains(anc: np.ndarray, pm: np.ndarray,
                        leaf: np.ndarray, e: np.ndarray) -> np.ndarray:
    """Vectorized climb: first chain node (starting at ``leaf``,
    inclusive) whose prefix-max outlet elevation >= ``e``; 0 when the
    climb runs off the chain (the cell floods to the ocean)."""
    c = leaf.astype(np.int64).copy()
    for k in range(anc.shape[0] - 1, -1, -1):
        jump = pm[k][c] < e
        if jump.any():
            c[jump] = anc[k][c[jump]]
    sentinel = anc.shape[1] - 1
    return np.where(c == sentinel, 0, c)


def depression_hierarchy(
    tr: TiledRaster, topology: str = TOPO_D8,
    ocean_labels: TiledRaster | None = None,
):
    """Distributed GetDepressionHierarchy.  Default ocean = global DEM
    border + NoData cells (the reference driver's default,
    programs/fsm/main.cpp pattern); pass ``ocean_labels`` (cells whose
    value == OCEAN are ocean, pyRichDEM __init__.py:815-864) to seed a
    custom ocean instead.  Returns
    (deps, labels TiledRaster(int64, OCEAN=0), flowdirs TiledRaster)."""
    meta = tr.meta
    spark = tr.df.sparkSession
    W = meta.width

    a_in = halo_join(tr)
    if ocean_labels is not None:
        from .focal import elementwise

        mask_tr = elementwise(
            ocean_labels,
            lambda a: (a == OCEAN).astype(np.uint8),
            out_dtype="uint8", out_nodata=None,
            op_name="ocean_mask",
        )
        o_halo = halo_join(mask_tr).select(
            "tile_x", "tile_y",
            F.col("data").alias("omask"),
            F.col("halo").alias("ohalo"),
        )
        a_in = a_in.join(o_halo, ["tile_x", "tile_y"])

    a_df = a_in.mapInPandas(
        _wave_a(meta, topology, custom_ocean=ocean_labels is not None),
        _A_SCHEMA,
    ).persist()

    # ---- border-hop resolution (one global solve, ops/solve.py);
    # each resolved border terminal is delivered to the 8 neighbouring
    # tiles (hop targets always land in a neighbour's border ring), so
    # wave B reads only its own slice of the result.
    ntx, nty = meta.ntiles_x, meta.ntiles_y
    tw, th = meta.tile_w, meta.tile_h

    def hop_solve(rows):
        res = _resolve_hops(rows)
        per_t: dict[tuple, list] = {}
        for g, enc in res.items():
            o_tx = (g % W) // tw
            o_ty = (g // W) // th
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dx == 0 and dy == 0:
                        continue
                    t2 = (o_tx + dx, o_ty + dy)
                    if 0 <= t2[0] < ntx and 0 <= t2[1] < nty:
                        per_t.setdefault(t2, []).append((g, enc))
        out = []
        for (tx2, ty2), lst in per_t.items():
            lst.sort()
            out.append((tx2, ty2,
                        [k for k, _ in lst], [v for _, v in lst]))
        return out

    hop_schema = StructType([
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("mkeys", ArrayType(LongType()), False),
        StructField("mvals", ArrayType(LongType()), False),
    ])
    joined, hops_of = solve_per_tile(
        a_df, ["tile_x", "tile_y", "bg", "bt"], hop_solve, hop_schema,
        perimeter_rows(meta))
    b_df = joined.mapInPandas(_wave_b(meta, topology, hops_of),
                              _B_SCHEMA).persist()

    in_tile = b_df.select(
        F.explode(F.arrays_zip("oa", "ob", "oc", "oz")).alias("o")
    ).select(
        F.col("o.oa").alias("a"), F.col("o.ob").alias("b"),
        F.col("o.oc").alias("c"), F.col("o.oz").alias("z"),
    )
    seam = _seam_outlets(b_df, meta, topology)
    outlets_in = (
        in_tile.unionByName(seam)
        .groupBy("a", "b")
        .agg(F.min(F.struct("z", "c")).alias("m"))
        .select(F.lit(0).alias("kind"), "a", "b",
                F.col("m.z").alias("z"), F.col("m.c").alias("c"))
    )

    # leaf-root fragments (gidx, pit elev) join the same solve input —
    # exploded executor-side, so on executor placement neither
    # the O(perimeter) outlet pairs nor the fragment list ever hit the
    # driver raw; the driver only collects the solve's compact output
    # (dense fragment map + deps + outlet DB), which it must hold anyway
    # (it IS the returned hierarchy + the wave-D broadcast).
    frag_in_schema = StructType([
        StructField("kind", IntegerType(), False),
        StructField("a", LongType(), False),
        StructField("b", LongType(), False),
        StructField("z", DoubleType(), False),
        StructField("c", LongType(), False),
    ])

    def roots_rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            gs, zs = [], []
            for r in pdf.itertuples():
                gs.append(np.frombuffer(r.rg, dtype=np.int64))
                zs.append(np.frombuffer(r.re, dtype=np.float64))
            if gs:
                g = np.concatenate(gs)
                z = np.concatenate(zs)
                if len(g):
                    yield pd.DataFrame({
                        "kind": np.full(len(g), 1, np.int32),
                        "a": g,
                        "b": np.full(len(g), -1, np.int64),
                        "z": z,
                        "c": np.full(len(g), -1, np.int64),
                    })

    roots_in = a_df.select("rg", "re").mapInPandas(
        roots_rows, frag_in_schema)

    # ---- fragment solve: unify plateau-pit fragments / absorb terraces.
    # Index-ordered plateau links fragment flats at tile borders; an
    # outlet at exactly a fragment's pit elevation is a flat connection
    # (provably: any non-flat outlet from a pit exceeds the pit level):
    #   * equal pit elevations  -> the same physical pit plateau: unify
    #   * target pit is lower   -> a draining terrace: absorb into the
    #     basin it spills into (the reference's radix-heap recency claim)
    #   * target is the ocean   -> an ocean-level coastal flat: cells
    #     become OCEAN, as the reference's ocean flood would claim them.
    # Union-find with -1 (ocean) as an absorbing terminal; absorption
    # edges strictly descend in pit elevation, hence terminate.  On
    # either placement the driver receives only the solve's COMPACT
    # output (fragment map, leaf list, outlet DB).
    def frag_solve(rows):
        pit_elev_of: dict[int, float] = {}
        outs = []
        for r in rows:
            if r.kind == 1:
                pit_elev_of[int(r.a)] = float(r.z)
            else:
                outs.append((int(r.a), int(r.b), float(r.z), int(r.c)))

        uf: dict[int, int] = {}

        def find(x):
            if x < 0:
                return -1
            rt = x
            while uf.get(rt, rt) != rt:
                rt = uf[rt]
            while uf.get(x, x) != x:
                uf[x], x = rt, uf[x]
            return rt

        changed = True
        while changed:
            changed = False
            cand: dict[int, tuple] = {}
            for a, b, z, c in outs:
                fa, fb = find(a), find(b)
                if fa == fb:
                    continue
                pa = pit_elev_of[fa] if fa >= 0 else -np.inf
                pb = pit_elev_of[fb] if fb >= 0 else -np.inf
                if fa >= 0 and fb >= 0 and z == pa and pa == pb:
                    s, t = max(fa, fb), min(fa, fb)  # unify: min root
                    key = (pit_elev_of[t], t)
                    if s not in cand or key < cand[s]:
                        cand[s] = key
                elif fa >= 0 and z == pa and pb < pa:
                    key = (pb, fb)
                    if fa not in cand or key < cand[fa]:
                        cand[fa] = key
                elif fb >= 0 and z == pb and pa < pb:
                    key = (pa, fa)
                    if fb not in cand or key < cand[fb]:
                        cand[fb] = key
            for s, (_pt, t) in sorted(cand.items()):
                fs, ft = find(s), find(t)
                if fs != ft and fs >= 0:
                    uf[fs] = ft
                    changed = True

        frags = sorted(pit_elev_of)
        frag_to_final = {g: find(g) for g in frags}
        final_roots = {f for f in frag_to_final.values() if f >= 0}

        # mint dense leaf ids: ascending (pit_elev, root gidx) — the
        # reference's pop order on tie-free DEMs
        leaves = sorted(final_roots, key=lambda g: (pit_elev_of[g], g))
        leaf_id = {g: i + 1 for i, g in enumerate(leaves)}

        out = []
        for g in frags:
            f = frag_to_final[g]
            out.append((0, g, 0 if f < 0 else leaf_id[f], 0.0, 0))
        for g in leaves:
            out.append((1, leaf_id[g], g, pit_elev_of[g], 0))

        # outlet DB keyed by dense leaf ids
        odb: dict[tuple, tuple] = {}
        for a, b, z, c in outs:
            fa, fb = find(a), find(b)
            if fa == fb:
                continue
            la = 0 if fa < 0 else leaf_id[fa]
            lb = 0 if fb < 0 else leaf_id[fb]
            k = (min(la, lb), max(la, lb))
            cur = odb.get(k)
            if cur is None or (z, c) < (cur[1], cur[0]):
                odb[k] = (c, z)
        for (la, lb), (c, z) in odb.items():
            out.append((2, la, lb, z, c))
        return out

    frag_out_schema = StructType([
        StructField("kind", IntegerType(), False),
        StructField("k1", LongType(), False),
        StructField("k2", LongType(), False),
        StructField("z", DoubleType(), False),
        StructField("c", LongType(), False),
    ])
    n_roots = int(
        (a_df.agg(F.sum(F.length("rg"))).first()[0] or 0) // 8)
    solved_rows = solve_collect(
        outlets_in.unionByName(roots_in), frag_solve, frag_out_schema,
        est_rows=n_roots + perimeter_rows(meta),
    )

    frag_pairs = sorted(
        (int(k1), int(k2)) for kind, k1, k2, _, _ in solved_rows
        if kind == 0)
    leaf_rows = sorted(
        (int(k1), int(k2), float(z)) for kind, k1, k2, z, _ in solved_rows
        if kind == 1)

    deps: list[Depression] = [Depression(
        pit_elev=-np.inf, pit_cell=NO_VALUE, dep_label=0
    )]
    for lid, g, pe in leaf_rows:
        deps.append(Depression(pit_cell=g, pit_elev=pe, dep_label=lid))

    outlet_db: dict[tuple, tuple] = {
        (int(k1), int(k2)): (int(c), float(z))
        for kind, k1, k2, z, c in solved_rows if kind == 2
    }
    merge_outlet_db(deps, outlet_db)

    # ---- wave D: dense labels + marginal volume partials ---------------
    lk = np.array([p[0] for p in frag_pairs], dtype=np.int64)
    lv = np.array([p[1] for p in frag_pairs], dtype=np.int64)
    chain_dep, chain_pm = build_outlet_chains(deps)
    bc = spark.sparkContext.broadcast((lk, lv, chain_dep, chain_pm))

    vol_schema = StructType([
        StructField("node", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("se", DoubleType(), False),
    ])

    def wave_d_labels(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        klk, klv, _cd, _cp = bc.value
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                labg = unpack(r.labg, h, w, "int64").ravel()
                lab = np.zeros(h * w, dtype=np.int64)
                m = labg >= 0
                if m.any():
                    pos = np.searchsorted(klk, labg[m])
                    lab[m] = klv[np.clip(pos, 0, len(klk) - 1)]
                rows.append((r.tile_x, r.tile_y, lab.reshape(h, w), 0.0))
            yield tile_frame(rows)

    lab_b = b_df.join(
        a_df.select("tile_x", "tile_y", "data"), ["tile_x", "tile_y"]
    )

    def wave_d_vols(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        klk, klv, cd, cp = bc.value
        for pdf in it:
            nodes_all = []
            cnts_all = []
            ses_all = []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                labg = unpack(r.labg, h, w, "int64").ravel()
                elev = unpack(r.data, h, w, "float64").ravel()
                m = labg >= 0
                if not m.any():
                    continue
                pos = np.searchsorted(klk, labg[m])
                leaf = klv[np.clip(pos, 0, len(klk) - 1)]
                e = elev[m]
                node = climb_outlet_chains(cd, cp, leaf, e)
                sel = node > 0
                if not sel.any():
                    continue
                order = np.argsort(node[sel], kind="stable")
                ns = node[sel][order]
                es = e[sel][order]
                starts = np.flatnonzero(np.r_[True, ns[1:] != ns[:-1]])
                nodes_all.append(ns[starts])
                cnts_all.append(np.diff(np.r_[starts, len(ns)]))
                ses_all.append(np.add.reduceat(es, starts))
            if nodes_all:
                yield pd.DataFrame({
                    "node": np.concatenate(nodes_all),
                    "cnt": np.concatenate(cnts_all).astype(np.int64),
                    "se": np.concatenate(ses_all),
                })

    vol_rows = (
        lab_b.mapInPandas(wave_d_vols, vol_schema)
        .groupBy("node")
        .agg(F.sum("cnt").alias("cnt"), F.sum("se").alias("se"))
        .collect()
    )
    for r in vol_rows:
        deps[int(r.node)].cell_count = int(r.cnt)
        deps[int(r.node)].total_elevation = float(r.se)
    _calculate_total_volumes(deps)

    labels_df = b_df.mapInPandas(wave_d_labels, TILE_SCHEMA)
    lab_meta = RasterMeta(
        width=meta.width, height=meta.height, tile_w=meta.tile_w,
        tile_h=meta.tile_h, nodata=0.0, dtype="int64",
        geotransform=meta.geotransform, projection=meta.projection,
        history=meta.history,
    ).with_history("depression_hierarchy_labels")
    flow_df = tiles_from_state(a_df, "flowdirs", "uint8", None)
    flow_meta = RasterMeta(
        width=meta.width, height=meta.height, tile_w=meta.tile_w,
        tile_h=meta.tile_h, nodata=None, dtype="uint8",
        geotransform=meta.geotransform, projection=meta.projection,
        history=meta.history,
    ).with_history("depression_hierarchy_flowdirs")
    return (
        deps,
        TiledRaster(labels_df, lab_meta),
        TiledRaster(flow_df, flow_meta),
    )
