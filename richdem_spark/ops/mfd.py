"""Distributed multi-flow-direction (MFD) accumulation.

The reference parallelizes only D8 accumulation
(``programs/parallel_d8_accum``); MFD spreads flow across up to 8
neighbours, so the single-exit perimeter-graph trick does not apply.  We
exploit linearity instead: accumulation is linear in its sources, so

1. **Round 0**: per-tile proportions from the haloed elevations (FM_*),
   then ONE depth-``HALO_K`` halo exchange of the proportions
   (tiles.halo_exchange) so every tile holds the PADDED proportions
   tensor (its own cells + the true proportions of the ``HALO_K``-ring
   of neighbouring cells).  Unit sources on the tile's own
   cells are propagated over the padded tensor: mass that meanders
   through the neighbour ring and back is routed in-round instead of
   ping-ponging one seam crossing per round (a river hugging a tile
   seam crosses it hundreds of times — routing through the ring
   collapsed a 233-round convergence at 1M cells to a handful).
2. **Round k**: mass leaving the padded view is injected at its target
   cell in the owning tile and propagated the same way; mass deposited
   ON ring cells is emitted as credit rows (accumulated by the owning
   tile, not re-propagated — the sender already routed it onward).
   Rounds iterate until no mass is in flight; each round ships only
   O(perimeter) injection/credit rows.

Results equal the single-grid oracle to float tolerance (summation
order differs); tests/test_spark_ops.py asserts allclose at 1e-9.
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

from ..constants import D8X, D8Y, NO_DATA_GEN
from ..kernels import flowmet as fmk
from ..tiles import (
    Plane,
    RasterMeta,
    TiledRaster,
    assemble_padded,
    halo_exchange,
    halo_join,
    pack,
    pad_planes,
    tiles_from_state,
    unpack,
)

_PROPS_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("nodata", DoubleType(), True),
        StructField("props", BinaryType(), False),   # float32 h*w*9 core
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("pt", IntegerType(), False),
        StructField("pl", IntegerType(), False),
        StructField("ph", IntegerType(), False),
        StructField("pw", IntegerType(), False),
        StructField("nodata", DoubleType(), True),
        StructField("pprops", BinaryType(), False),  # float32 ph*pw*9
        StructField("accum", BinaryType(), False),   # float64 core h*w
        # out rows: global coords + amount + kind (0 inject, 1 credit)
        StructField("ogx", ArrayType(LongType()), False),
        StructField("ogy", ArrayType(LongType()), False),
        StructField("oval", ArrayType(DoubleType()), False),
        StructField("okind", ArrayType(IntegerType()), False),
    ]
)

_FMS = {
    "Quinn": lambda e, nd, p: fmk.fm_quinn(e, nd),
    "Holmgren": lambda e, nd, p: fmk.fm_holmgren(e, nd, x=p or 1.0),
    "Freeman": lambda e, nd, p: fmk.fm_freeman(e, nd, p=p or 1.1),
    "Tarboton": lambda e, nd, p: fmk.fm_tarboton(e, nd),
    "Dinfinity": lambda e, nd, p: fmk.fm_tarboton(e, nd),
}


# proportions-halo depth: mass meandering within this many cells of a
# seam is routed in-round; only deeper dives cost another round.  Piece
# bytes per tile side = HALO_K * side * 9 * 4 — still O(perimeter).
HALO_K = 8

_PROPS_PLANE = Plane("props", "float32", (9,))


def _route(P, weights_padded, tile_x, tile_y, pt, pl, h, w, meta):
    """Propagate ``weights_padded`` over the padded proportions tensor.
    Returns (core additions, out rows [gx, gy, val, kind]): mass landing
    on ring cells -> credit rows for the owning tile; mass leaving the
    padded view -> injection rows at its target cell."""
    add = fmk.prop_flow_accum(P, weights=weights_padded)
    addv = np.where(add < 0, 0.0, add)
    ph, pw = addv.shape
    x0 = tile_x * meta.tile_w - pl       # global coord of P[0,0]
    y0 = tile_y * meta.tile_h - pt

    ogx, ogy, oval, okind = [], [], [], []

    # credits: ring additions belong to the neighbouring owner
    ring = np.ones((ph, pw), bool)
    ring[pt:pt + h, pl:pl + w] = False
    m = ring & (addv > 0)
    if m.any():
        ys, xs = np.nonzero(m)
        ogx.append(xs + x0)
        ogy.append(ys + y0)
        oval.append(addv[m])
        okind.append(np.ones(len(ys), np.int32))

    # injections: flow from any padded cell to outside the padded view
    yy, xx = np.mgrid[0:ph, 0:pw]
    for n in range(1, 9):
        p = P[..., n].astype(np.float64)
        dx, dy = int(D8X[n]), int(D8Y[n])
        tx_ = xx + dx
        ty_ = yy + dy
        off = (tx_ < 0) | (tx_ >= pw) | (ty_ < 0) | (ty_ >= ph)
        mm = off & (p > 0) & (addv > 0)
        if not mm.any():
            continue
        gx = tx_[mm] + x0
        gy = ty_[mm] + y0
        ing = (gx >= 0) & (gx < meta.width) & (gy >= 0) \
            & (gy < meta.height)
        if not ing.any():
            continue
        ogx.append(gx[ing])
        ogy.append(gy[ing])
        oval.append((p[mm] * addv[mm])[ing])
        okind.append(np.zeros(int(ing.sum()), np.int32))

    core_add = addv[pt:pt + h, pl:pl + w]
    if ogx:
        return (core_add, np.concatenate(ogx), np.concatenate(ogy),
                np.concatenate(oval), np.concatenate(okind))
    z = np.array([], dtype=np.int64)
    return core_add, z, z, np.array([]), np.array([], dtype=np.int32)


def flow_accumulation_mfd(
    tr: TiledRaster, method: str = "Quinn", exponent: float | None = None,
    max_rounds: int = 10_000, metrics: dict | None = None,
) -> TiledRaster:
    """``metrics`` (optional dict) receives ``rounds`` and
    ``inflight_per_round`` (injection/credit row counts) — convergence
    telemetry so a production run can SEE how many seam rounds a long
    river costs (each round is O(perimeter) traffic; the round count
    scales with seam crossings of the longest flow path / HALO_K)."""
    meta = tr.meta
    fm = _FMS[method]
    tw, th = meta.tile_w, meta.tile_h

    # ---- core proportions from the elevation halo -------------------
    def props_wave(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _PROPS_SCHEMA.fields}
            for r in pdf.itertuples():
                core = unpack(r.data, r.height, r.width, r.dtype)
                fill = r.nodata if r.nodata is not None else 0.0
                padded, pt, pl = assemble_padded(core, r.halo, r.dtype,
                                                 fill)
                props_p = fm(padded.astype(np.float64), r.nodata,
                             exponent)
                props = props_p[pt:pt + r.height, pl:pl + r.width, :]
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(r.width)
                out["height"].append(r.height)
                out["nodata"].append(r.nodata)
                out["props"].append(pack(
                    np.ascontiguousarray(props, dtype=np.float32)))
            yield pd.DataFrame(out)

    pdf_props = halo_join(tr).mapInPandas(props_wave, _PROPS_SCHEMA) \
        .localCheckpoint(eager=True)

    # ---- exchange props pieces; round 0 over the padded tensor ------
    joined0 = halo_exchange(pdf_props, meta, [_PROPS_PLANE], HALO_K)

    def round0(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _STATE_SCHEMA.fields}
            for r in pdf.itertuples():
                h, w = r.height, r.width
                core = np.frombuffer(r.props, np.float32).reshape(
                    h, w, 9)
                (P,), pt, pl = pad_planes([core], r.halo, [0.0])
                ph, pw = P.shape[:2]
                wts = np.zeros((ph, pw))
                flags = P[pt:pt + h, pl:pl + w, 0]
                wts[pt:pt + h, pl:pl + w] = (
                    flags != NO_DATA_GEN).astype(np.float64)
                core_add, gx, gy, vals, kinds = _route(
                    P, wts, r.tile_x, r.tile_y, pt, pl, h, w, meta)
                acc = np.where(
                    core[..., 0] == NO_DATA_GEN, -1.0, core_add)
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(w)
                out["height"].append(h)
                out["pt"].append(pt)
                out["pl"].append(pl)
                out["ph"].append(ph)
                out["pw"].append(pw)
                out["nodata"].append(r.nodata)
                out["pprops"].append(pack(P))
                out["accum"].append(pack(acc))
                out["ogx"].append(gx.tolist())
                out["ogy"].append(gy.tolist())
                out["oval"].append(vals.tolist())
                out["okind"].append([int(k) for k in kinds])
            yield pd.DataFrame(out)

    state = joined0.mapInPandas(round0, _STATE_SCHEMA) \
        .localCheckpoint(eager=True)

    import gc as _gc

    inflight: list[int] = []
    rounds_done = 0
    for _round in range(max_rounds):
        # loop-control scalar only — injection/credit rows never touch
        # the driver: exploded, re-keyed by owner tile, shuffled back
        n_out = state.agg(F.sum(F.size("ogx")).alias("n")).first()["n"]
        if n_out:
            inflight.append(int(n_out))
        if not n_out:
            break
        rounds_done += 1
        # rebinding `state` below drops the only reference to the prior
        # round's localCheckpoint blocks; nudge the ContextCleaner so
        # executor storage stays O(one round) on long convergences
        if rounds_done % 16 == 0:
            _gc.collect()
        inj_df = (
            state.select(
                F.explode(
                    F.arrays_zip("ogx", "ogy", "oval", "okind")
                ).alias("o")
            )
            .select(
                (F.col("o.ogx") / tw).cast("int").alias("tile_x"),
                (F.col("o.ogy") / th).cast("int").alias("tile_y"),
                F.struct(
                    F.col("o.ogx").alias("gx"),
                    F.col("o.ogy").alias("gy"),
                    F.col("o.oval").alias("iv"),
                    F.col("o.okind").alias("ik"),
                ).alias("inj"),
            )
            .groupBy("tile_x", "tile_y")
            .agg(F.collect_list("inj").alias("inj"))
        )
        joined = state.join(inj_df, ["tile_x", "tile_y"], "left")

        def step(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                out = {f.name: [] for f in _STATE_SCHEMA.fields}
                for r in pdf.itertuples():
                    h, w = r.height, r.width
                    pt, pl = r.pt, r.pl
                    acc = unpack(r.accum, h, w, "float64").copy()
                    z = np.array([], dtype=np.int64)
                    gx = gy = z
                    vals = np.array([])
                    kinds = np.array([], dtype=np.int32)
                    if r.inj is not None and len(r.inj):
                        P = np.frombuffer(r.pprops, np.float32) \
                            .reshape(r.ph, r.pw, 9)
                        igx = np.array([s["gx"] for s in r.inj],
                                       dtype=np.int64)
                        igy = np.array([s["gy"] for s in r.inj],
                                       dtype=np.int64)
                        ivs = np.array([s["iv"] for s in r.inj])
                        iks = np.array([s["ik"] for s in r.inj],
                                       dtype=np.int64)
                        lx = igx - r.tile_x * tw
                        ly = igy - r.tile_y * th
                        cr = iks == 1
                        if cr.any():
                            valid = acc[ly[cr], lx[cr]] >= 0
                            np.add.at(
                                acc, (ly[cr][valid], lx[cr][valid]),
                                ivs[cr][valid])
                        ij = ~cr
                        if ij.any():
                            wts = np.zeros((r.ph, r.pw))
                            np.add.at(wts, (ly[ij] + pt, lx[ij] + pl),
                                      ivs[ij])
                            core_add, gx, gy, vals, kinds = _route(
                                P, wts, r.tile_x, r.tile_y, pt, pl,
                                h, w, meta)
                            acc = np.where(acc < 0, acc, acc + core_add)
                    out["tile_x"].append(r.tile_x)
                    out["tile_y"].append(r.tile_y)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["pt"].append(pt)
                    out["pl"].append(pl)
                    out["ph"].append(r.ph)
                    out["pw"].append(r.pw)
                    out["nodata"].append(r.nodata)
                    out["pprops"].append(r.pprops)
                    out["accum"].append(pack(acc))
                    out["ogx"].append(gx.tolist())
                    out["ogy"].append(gy.tolist())
                    out["oval"].append(vals.tolist())
                    out["okind"].append([int(k) for k in kinds])
                yield pd.DataFrame(out)

        # lazy localCheckpoint truncates lineage; the NEXT round's
        # n_out agg (or the final output read) is the action that
        # materializes it — one job per round instead of two
        state = joined.mapInPandas(step, _STATE_SCHEMA) \
            .localCheckpoint(eager=False)

    if metrics is not None:
        metrics["rounds"] = rounds_done
        metrics["inflight_per_round"] = inflight

    out_df = tiles_from_state(state, "accum", "float64", -1.0)
    new_meta = RasterMeta(
        width=meta.width, height=meta.height, tile_w=meta.tile_w,
        tile_h=meta.tile_h, nodata=-1.0, dtype="float64",
        geotransform=meta.geotransform, projection=meta.projection,
        history=meta.history,
    ).with_history(f"flow_accumulation_mfd({method})")
    return TiledRaster(out_df, new_meta)
