"""Distributed Lindsay-2016 depression breaching (tiled, no size gate).

Re-derivation of ``include/richdem/depressions/Lindsay2016.hpp:48-178``
(CompleteBreaching) and ``:227-423`` (COMPLETE / SELECTIVE / CONSTRAINED
modes, optional epsilon gradients and post-fill), decomposed for tiles.
No published tiled breaching algorithm exists in the reference; this
decomposition rests on three observations:

1.  **The backlink forest is replaced by the drainage tree of the
    filled surface.**  The serial kernel's Priority-Flood backlinks
    point from every cell toward the flood source — i.e. they descend
    the *filled* surface toward the DEM edge / NoData drains.  The
    engine's canonical breach tree is therefore defined as the D8 flow
    directions of the flat-resolved Priority-Flood fill of the
    (pit-raised, NoData->-inf) surface.  Every piece of that definition
    already has a seam-exact distributed twin in this repo — the
    two-round fill (ops/fill.py) and the distributed flat resolution
    (ops/flats.py, cell-for-cell equal to the serial pipeline at any
    tiling) — so the multi-tile tree equals the serial twin
    (kernels/breach.breach_drainage_tree) BY CONSTRUCTION on every
    input, with no new cross-tile machinery.  The tree differs from the
    reference's insertion-order backlinks only in which of several
    equally-valid breach channels is carved through tied ridges; it
    reproduces ALL 7 reference breaching goldens (tests/test_breach.py)
    and every result is a valid Lindsay breaching.  (A direct per-tile
    replay of the sequential heap was tried first and is fundamentally
    not locally computable: inside an equal-elevation plateau spanning
    a seam, the heap's wavefront race depends on the whole plateau's
    geometry.)

2.  **Carving is order-independent.**  The serial kernel carves pits in
    pop order against the mutating surface; carving each pit
    independently against the pristine (post-pit-raise) surface and
    min-combining the updates yields the same raster: pit trees share
    ancestor suffixes, so where an earlier carve would have cut a later
    walk short, the earlier (lower-target) values already dominate the
    later walk's writes, and nextafter chains preserve their relative
    order along shared suffixes.  SELECTIVE/CONSTRAINED measure and
    carve against the pristine surface in the serial kernel already.
    Pit walks therefore run fully parallel, crossing seams as
    continuation rows; updates fold with ``min``.

3.  **The optional post-fill is a prefix scan on the forest.**  In
    float-bit space (monotone int64 view) the per-cell raise
    ``v'[f] = v[f] if v[f] > v'[parent] else nextafter(v'[parent])``
    is ``x -> max(b_f, x + d)`` (d = 1 under epsilon gradients, else 0),
    which composes associatively: in-tile chains resolve by vectorized
    pointer doubling and the O(perimeter) cross-seam chain graph
    resolves driver-side (the producer-rank bound the reference's own
    tiled programs accept).

Communication per breach: one distributed fill (two O(perimeter)
exchanges), two halo exchanges (tiles.halo_exchange), one continuation
exchange per PADDED-VIEW exit of the deepest breach path, one update
shuffle.  Tile interiors are never re-shuffled.

Walk rounds are bounded by geometry, not by a magic constant: each tile
walks over a depth-``WALK_HALO_K`` padded (raised, parent) view — the
same treatment that collapsed MFD's seam ping-pong (ops/mfd.py) — so a
path hugging a seam no longer costs one round per crossing.  A
continuation is only emitted when the walk exits the padded view, which
from any core cell takes at least ``WALK_HALO_K`` steps; breach paths
descend a forest (no cycles, length <= W*H), so
``ceil(W*H / WALK_HALO_K) + 2`` rounds is a TRUE upper bound and the
``max_rounds`` RuntimeError cannot fire on valid input (it remains as a
corruption tripwire and is overridable through the BreachDepressions
API).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..constants import D8X, D8Y, TOPO_D8
from ..tiles import (
    TILE_SCHEMA,
    Plane,
    TiledRaster,
    assemble_padded,
    halo_exchange,
    halo_join,
    pack,
    pad_planes,
    tile_frame,
    tiles_from_state,
    unpack,
)

COMPLETE = "complete"
SELECTIVE = "selective"
CONSTRAINED = "constrained"

_STATE_SCHEMA = StructType([
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("raised", BinaryType(), False),   # float64 post-pit-raise
    StructField("pits", BinaryType(), False),     # uint8 pit mask
])

_PARENT_SCHEMA = StructType([
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("parent", BinaryType(), False),   # uint8 dir to parent
])

# walk-halo depth: a breach path within this many cells of a seam keeps
# walking in-round; only deeper dives into a neighbour cost another
# round.  Piece bytes per tile side = K * side * 9 — still O(perimeter).
WALK_HALO_K = 8

_WALK_PLANES = [Plane("raised", "float64"), Plane("parent", "uint8")]

_WSTATE_SCHEMA = StructType([
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("w", IntegerType(), False),
    StructField("h", IntegerType(), False),
    StructField("pt", IntegerType(), False),
    StructField("pl", IntegerType(), False),
    StructField("ph", IntegerType(), False),
    StructField("pw", IntegerType(), False),
    StructField("praised", BinaryType(), False),  # float64 ph*pw
    StructField("pparent", BinaryType(), False),  # uint8 ph*pw
])

_TRACE_SCHEMA = StructType([
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("gx", LongType(), False),
    StructField("gy", LongType(), False),
    StructField("target", DoubleType(), False),
    StructField("pathlen", LongType(), False),
    StructField("pathdepth", DoubleType(), False),
    StructField("pit_gi", LongType(), False),
    StructField("within", IntegerType(), False),
])

_WALK_SCHEMA = StructType([
    StructField("kind", IntegerType(), False),    # 1=cont 2=update 3=done
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("gx", LongType(), False),
    StructField("gy", LongType(), False),
    StructField("target", DoubleType(), False),
    StructField("pathlen", LongType(), False),
    StructField("pathdepth", DoubleType(), False),
    StructField("pit_gi", LongType(), False),
    StructField("within", IntegerType(), False),
    StructField("val", DoubleType(), False),
])

def _pit_raise_wave(meta, eps_gradients: bool):
    """Phase A: pit-raise preprocessing + pit mask (the serial kernel's
    seeding loop, kernels/breach.py; Lindsay2016.hpp pit detection).  A
    pit is an interior non-seed data cell at or below its lowest data
    neighbour; it is raised to that level (one nextafter below it under
    epsilon gradients)."""
    nodata = meta.nodata
    ntx, nty = meta.ntiles_x, meta.ntiles_y

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _STATE_SCHEMA.fields}
            for r in pdf.itertuples():
                core = unpack(r.data, r.height, r.width, r.dtype)
                fillv = nodata if nodata is not None else 0.0
                padded, pt, pl = assemble_padded(
                    core, r.halo, r.dtype, fillv)
                padded = padded.astype(np.float64)
                ph, pw = padded.shape
                nd = (np.zeros(padded.shape, bool) if nodata is None
                      else padded == nodata)
                lowest = np.full(padded.shape, np.inf)
                nd_adj = np.zeros(padded.shape, bool)
                for n in range(1, 9):
                    dx, dy = int(D8X[n]), int(D8Y[n])
                    ys_d = slice(max(0, -dy), ph - max(0, dy))
                    xs_d = slice(max(0, -dx), pw - max(0, dx))
                    ys_s = slice(max(0, dy), ph + min(0, dy))
                    xs_s = slice(max(0, dx), pw + min(0, dx))
                    nsrc = padded[ys_s, xs_s]
                    ndn = nd[ys_s, xs_s]
                    nd_adj[ys_d, xs_d] |= ndn
                    lowest[ys_d, xs_d] = np.minimum(
                        lowest[ys_d, xs_d], np.where(ndn, np.inf, nsrc))
                edge = np.zeros(padded.shape, bool)
                if r.tile_y == 0:
                    edge[pt, :] = True
                if r.tile_y == nty - 1:
                    edge[pt + r.height - 1, :] = True
                if r.tile_x == 0:
                    edge[:, pl] = True
                if r.tile_x == ntx - 1:
                    edge[:, pl + r.width - 1] = True
                seed = (edge | nd_adj) & ~nd
                raised = padded.copy()
                pit = np.zeros(padded.shape, np.uint8)
                cand = (~nd) & (~seed) & np.isfinite(lowest)
                below = cand & (padded < lowest)
                raised[below] = (np.nextafter(lowest[below], -np.inf)
                                 if eps_gradients else lowest[below])
                pit[cand & (raised <= lowest)] = 1
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(r.width)
                out["height"].append(r.height)
                out["raised"].append(
                    pack(raised[pt:pt + r.height, pl:pl + r.width]))
                out["pits"].append(
                    pack(pit[pt:pt + r.height, pl:pl + r.width]))
            yield pd.DataFrame(out)

    return run


def _build_walk_state(walk_state, meta):
    """Depth-``WALK_HALO_K`` padded (raised, parent) view per tile: ONE
    halo exchange of both planes (tiles.halo_exchange; ragged edges
    send thinner pieces)."""
    joined = halo_exchange(walk_state, meta, _WALK_PLANES, WALK_HALO_K)

    def assemble(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _WSTATE_SCHEMA.fields}
            for r in pdf.itertuples():
                h, w = r.height, r.width
                (A, P), pt, pl = pad_planes(
                    [unpack(r.raised, h, w, "float64"),
                     unpack(r.parent, h, w, "uint8")],
                    r.halo, [np.inf, 0])
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["w"].append(w)
                out["h"].append(h)
                out["pt"].append(pt)
                out["pl"].append(pl)
                out["ph"].append(A.shape[0])
                out["pw"].append(A.shape[1])
                out["praised"].append(pack(A))
                out["pparent"].append(pack(P))
            yield pd.DataFrame(out)

    return joined.mapInPandas(assemble, _WSTATE_SCHEMA)


def _walk_round(meta, mode, eps, max_depth, carve):
    """One round of pit-path walking: each trace walks the parent forest
    through its current tile's depth-``WALK_HALO_K`` PADDED view,
    emitting carve updates (carve=True, keyed by the OWNING tile) or
    accumulating (pathlen, pathdepth) (carve=False), plus a continuation
    row when the walk exits the padded view.  Walks check the PRISTINE
    (post-pit-raise) surface and min-combine — order-independent
    (docstring point 2); halo data is the same pristine surface, so
    in-halo walking is exact."""
    tw, th = meta.tile_w, meta.tile_h
    W, H = meta.width, meta.height
    nodata = meta.nodata

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        st = pdf[pdf["kind"] == 0]
        trs = pdf[pdf["kind"] == 1]
        cols = {f.name: [] for f in _WALK_SCHEMA.fields}
        if not len(st) or not len(trs):
            return pd.DataFrame(cols)
        s = st.iloc[0]
        ph, pw = int(s["ph"]), int(s["pw"])
        orig = unpack(s["praised"], ph, pw, "float64")
        par = unpack(s["pparent"], ph, pw, "uint8")
        x0 = tx * tw - int(s["pl"])      # global coord of padded[0, 0]
        y0 = ty * th - int(s["pt"])

        def emit(kind, gx=0, gy=0, target=0.0, pathlen=0,
                 pathdepth=0.0, pit_gi=0, within=1, val=0.0,
                 txo=tx, tyo=ty):
            cols["kind"].append(kind)
            cols["tile_x"].append(txo)
            cols["tile_y"].append(tyo)
            cols["gx"].append(gx)
            cols["gy"].append(gy)
            cols["target"].append(target)
            cols["pathlen"].append(pathlen)
            cols["pathdepth"].append(pathdepth)
            cols["pit_gi"].append(pit_gi)
            cols["within"].append(within)
            cols["val"].append(val)

        for t in trs.itertuples():
            gx, gy = int(t.gx), int(t.gy)
            target = float(t.target)
            pathlen = int(t.pathlen)
            pathdepth = float(t.pathdepth)
            pit_gi = int(t.pit_gi)
            within = int(t.within)
            crossed = False
            while True:
                if not (0 <= gx < W and 0 <= gy < H):
                    break  # walked off the DEM: drainage reached
                lx, ly = gx - x0, gy - y0
                if not (0 <= lx < pw and 0 <= ly < ph):
                    emit(1, gx, gy, target, pathlen, pathdepth,
                         pit_gi, within, 0.0,
                         txo=gx // tw, tyo=gy // th)
                    crossed = True
                    break
                o = orig[ly, lx]
                if nodata is not None and o == nodata:
                    break  # drained into a NoData hole
                if not (o >= target):
                    break
                if carve:
                    val = (target if (mode == COMPLETE or within)
                           else max(o - max_depth, target))
                    emit(2, gx, gy, 0.0, 0, 0.0, pit_gi, within, val,
                         txo=gx // tw, tyo=gy // th)
                else:
                    pathdepth = max(pathdepth, o - target)
                    pathlen += 1
                d = int(par[ly, lx])
                if eps:
                    target = float(np.nextafter(target, -np.inf))
                if d == 0 or d > 8:
                    break  # root / NO_FLOW / FLOWDIR_NO_DATA
                gx += int(D8X[d])
                gy += int(D8Y[d])
            if not carve and not crossed:
                emit(3, 0, 0, 0.0, pathlen, pathdepth, pit_gi, within)
        return pd.DataFrame(cols)

    return run


def _run_walks(state_rows, traces_df, meta, mode, eps, max_depth,
               carve, max_rounds=None, metrics=None):
    """Drive walk rounds until no continuations remain.  Only tiles with
    live traces participate in a round (inner join on the tile key), so
    each round costs O(active tiles), not O(all tiles).

    ``max_rounds`` defaults to the geometric upper bound
    ``ceil(W*H / WALK_HALO_K) + 2`` (see module docstring) — a
    corruption tripwire, not a size gate.  Each round's intermediates
    are eagerly materialized (results via localCheckpoint) and the
    previous round's persisted frames are released, so executor storage
    stays O(one round) on long walks.  ``metrics`` (optional dict) gets
    ``{carve|measure}_rounds`` and per-round live-trace counts —
    convergence telemetry for production runs."""
    if max_rounds is None:
        max_rounds = (meta.width * meta.height) // WALK_HALO_K + 3
    results = []
    live = traces_df
    prev_cont = None
    rounds_done = 0
    live_counts: list[int] = []
    for _ in range(max_rounds):
        live_rows = live.select(
            F.lit(1).alias("kind"), "tile_x", "tile_y", "gx", "gy",
            "target", "pathlen", "pathdepth", "pit_gi", "within",
            F.lit(None).cast("binary").alias("praised"),
            F.lit(None).cast("binary").alias("pparent"),
            F.lit(None).cast("int").alias("pt"),
            F.lit(None).cast("int").alias("pl"),
            F.lit(None).cast("int").alias("ph"),
            F.lit(None).cast("int").alias("pw"),
            F.lit(None).cast("int").alias("h"),
            F.lit(None).cast("int").alias("w"),
        )
        keys = live.select("tile_x", "tile_y").distinct()
        state_sub = state_rows.join(keys, ["tile_x", "tile_y"])
        mixed = state_sub.unionByName(live_rows)
        walked = mixed.groupBy("tile_x", "tile_y").applyInPandas(
            _walk_round(meta, mode, eps, max_depth, carve), _WALK_SCHEMA
        ).persist()
        out_kind = 2 if carve else 3
        # eager: pins this round's outputs so `walked` can be released
        results.append(
            walked.where(F.col("kind") == out_kind)
            .select("tile_x", "tile_y", "gx", "gy", "val",
                    "pathlen", "pathdepth", "pit_gi")
            .localCheckpoint(eager=True)
        )
        cont = walked.where(F.col("kind") == 1).select(
            "tile_x", "tile_y", "gx", "gy", "target",
            "pathlen", "pathdepth", "pit_gi", "within",
        ).persist()
        n_live = cont.count()
        walked.unpersist()
        if prev_cont is not None:
            prev_cont.unpersist()
        rounds_done += 1
        live_counts.append(n_live)
        if n_live == 0:
            cont.unpersist()
            prev_cont = None
            break
        prev_cont = cont
        live = cont
    else:
        raise RuntimeError(
            "breach walk exceeded the geometric round bound — the "
            "parent forest must be corrupt (cycle)")
    if metrics is not None:
        kind = "carve" if carve else "measure"
        metrics[f"{kind}_rounds"] = rounds_done
        metrics[f"{kind}_live_per_round"] = live_counts
    out = results[0]
    for r_ in results[1:]:
        out = out.unionByName(r_)
    return out


def breach_depressions_tiled(
    tr: TiledRaster,
    mode: str = COMPLETE,
    eps_gradients: bool = False,
    fill_depressions: bool = False,
    max_path_len: int = 2**31,
    max_depth: float = np.inf,
    max_rounds: int | None = None,
    metrics: dict | None = None,
) -> TiledRaster:
    """Distributed Lindsay2016 breaching — see the module docstring for
    the decomposition and its exactness argument.  The breach tree is
    the drainage tree of the filled surface (serial twin:
    kernels/breach.breach_drainage_tree); the reference's
    stable-insertion-order kernel remains in kernels/breach.py for
    reference-golden parity (all reproduce the 7 goldens)."""
    meta = tr.meta
    tw, th = meta.tile_w, meta.tile_h
    W = meta.width

    # ---- phase A: pit-raise + pit mask ------------------------------
    # Every phase boundary below is localCheckpoint'ed (eager): each
    # phase halo-joins its input, and a halo_join references its input
    # twice, so an untruncated pipeline would double the logical plan
    # at every phase — Catalyst analysis goes exponential long before
    # any task runs.  Truncation keeps each phase's plan flat.
    state = halo_join(tr).mapInPandas(
        _pit_raise_wave(meta, eps_gradients), _STATE_SCHEMA
    ).localCheckpoint(eager=True)

    raised_tr = TiledRaster(
        tiles_from_state(state, "raised", "float64", meta.nodata),
        replace(meta, dtype="float64"),
    )

    # ---- phase B+C: the canonical drainage tree ---------------------
    # fill the raised surface (NoData -> -inf so holes drain), resolve
    # its flats, take D8 directions: the breach tree, seam-exact via
    # the existing distributed fill + flats machinery.
    from ..kernels.d8 import d8_flow_directions as _d8k
    from .fill import fill_depressions as _fill
    from .flats import flow_dirs_through_flats, resolve_flats_distributed
    from .focal import apply_focal, elementwise

    nodata0 = meta.nodata
    if nodata0 is not None:
        surf_tr = elementwise(
            raised_tr,
            lambda a: np.where(a == nodata0, -np.inf, a),
            out_dtype="float64", out_nodata=None,
            op_name="breach_surface",
        )
    else:
        surf_tr = raised_tr
    filled_tr = _fill(surf_tr, topology=TOPO_D8)
    filled_tr = TiledRaster(
        filled_tr.df.localCheckpoint(eager=True), filled_tr.meta)
    dirs0 = apply_focal(
        filled_tr, _d8k, out_dtype="uint8", out_nodata=None,
        kernel_kwargs={"nodata": None}, op_name="breach_dirs",
    )
    dirs0 = TiledRaster(dirs0.df.localCheckpoint(eager=True), dirs0.meta)
    fmask, flabels = resolve_flats_distributed(filled_tr, dirs0)
    fmask = TiledRaster(
        fmask.df.localCheckpoint(eager=True), fmask.meta)
    flabels = TiledRaster(
        flabels.df.localCheckpoint(eager=True), flabels.meta)
    dirs_tr = flow_dirs_through_flats(dirs0, fmask, flabels)

    walk_state = state.join(
        dirs_tr.df.select("tile_x", "tile_y",
                          F.col("data").alias("parent")),
        ["tile_x", "tile_y"],
    ).localCheckpoint(eager=True)

    padded_state = _build_walk_state(walk_state, meta) \
        .localCheckpoint(eager=True)
    state_rows = padded_state.select(
        F.lit(0).alias("kind"), "tile_x", "tile_y",
        F.lit(None).cast("long").alias("gx"),
        F.lit(None).cast("long").alias("gy"),
        F.lit(None).cast("double").alias("target"),
        F.lit(None).cast("long").alias("pathlen"),
        F.lit(None).cast("double").alias("pathdepth"),
        F.lit(None).cast("long").alias("pit_gi"),
        F.lit(None).cast("int").alias("within"),
        "praised", "pparent", "pt", "pl", "ph", "pw", "h", "w",
    ).persist()

    # ---- initial traces: one per pit --------------------------------
    def traces0(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {f.name: [] for f in _TRACE_SCHEMA.fields}
            for r in pdf.itertuples():
                h, w = r.height, r.width
                pit = unpack(r.pits, h, w, "uint8")
                ys, xs = np.nonzero(pit)
                if not len(ys):
                    continue
                ras = unpack(r.raised, h, w, "float64")
                for yy, xx in zip(ys.tolist(), xs.tolist()):
                    gx = r.tile_x * tw + xx
                    gy = r.tile_y * th + yy
                    rows["tile_x"].append(r.tile_x)
                    rows["tile_y"].append(r.tile_y)
                    rows["gx"].append(gx)
                    rows["gy"].append(gy)
                    rows["target"].append(float(ras[yy, xx]))
                    rows["pathlen"].append(0)
                    rows["pathdepth"].append(-np.inf)
                    rows["pit_gi"].append(gy * W + gx)
                    rows["within"].append(1)
            yield pd.DataFrame(rows)

    traces = walk_state.mapInPandas(traces0, _TRACE_SCHEMA).persist()

    if mode != COMPLETE:
        measures = _run_walks(
            state_rows, traces, meta, mode, eps_gradients, max_depth,
            carve=False, max_rounds=max_rounds, metrics=metrics,
        )
        decisions = measures.select(
            "pit_gi",
            ((F.col("pathlen") <= max_path_len)
             & (F.col("pathdepth") <= max_depth)).cast("int")
            .alias("within2"),
        )
        traces0_df = traces
        traces = traces.drop("within").join(decisions, "pit_gi") \
            .withColumnRenamed("within2", "within")
        if mode == SELECTIVE:
            # out-of-limits pits are not carved at all in SELECTIVE
            traces = traces.where(F.col("within") == 1)
        traces = traces.select(*[f.name for f in _TRACE_SCHEMA.fields]) \
            .persist()
        traces.count()          # materialize before releasing the input
        traces0_df.unpersist()

    updates = _run_walks(
        state_rows, traces, meta, mode, eps_gradients, max_depth,
        carve=True, max_rounds=max_rounds, metrics=metrics,
    )
    state_rows.unpersist()
    traces.unpersist()
    upd_min = updates.groupBy("tile_x", "tile_y", "gx", "gy").agg(
        F.min("val").alias("val")
    ).groupBy("tile_x", "tile_y").agg(
        F.collect_list(F.struct("gx", "gy", "val")).alias("upds")
    )

    carved = walk_state.join(upd_min, ["tile_x", "tile_y"], "left")
    nodata = meta.nodata

    def apply_updates(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                a = unpack(r.raised, h, w, "float64").copy()
                if r.upds is not None:
                    for u in r.upds:
                        lx = int(u["gx"]) - r.tile_x * tw
                        ly = int(u["gy"]) - r.tile_y * th
                        a[ly, lx] = min(a[ly, lx], float(u["val"]))
                rows.append((r.tile_x, r.tile_y, a, nodata))
            yield tile_frame(rows)

    out = TiledRaster(
        carved.mapInPandas(apply_updates, TILE_SCHEMA),
        meta.with_history(f"breach_depressions({mode})"),
    )

    if fill_depressions and mode != COMPLETE:
        out = _tree_fill_pass(out, walk_state, meta, eps_gradients)

    return out


# ---------------------------------------------------------------------------
# post-fill prefix scan along the parent forest
# ---------------------------------------------------------------------------

def _f2i(x: np.ndarray) -> np.ndarray:
    """Monotone bijection float64 -> int64; +1 here == nextafter toward
    +inf for finite values (the -0.0/+0.0 boundary collapses — moot for
    elevations)."""
    b = np.ascontiguousarray(x, dtype=np.float64).view(np.int64)
    return np.where(b < 0, np.int64(-0x8000000000000000) - b - 1, b)


def _i2f(i: np.ndarray) -> np.ndarray:
    b = np.where(i < 0, np.int64(-0x8000000000000000) - i - 1, i)
    return np.ascontiguousarray(b).view(np.float64)


_FILL_SCHEMA = StructType([
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("vals", BinaryType(), False),    # int64: C per cell
    StructField("exd", BinaryType(), False),     # int64: D per cell
    StructField("exq", BinaryType(), False),     # int64: head gi or -1
    # O(perimeter) rows for the driver: ring-cell states + chain heads
    StructField("ring_gi", BinaryType(), False),
    StructField("ring_c", BinaryType(), False),
    StructField("ring_d", BinaryType(), False),
    StructField("ring_exq", BinaryType(), False),
    StructField("ring_nd", BinaryType(), False),
    StructField("hgi", BinaryType(), False),     # head gi
    StructField("hq", BinaryType(), False),      # head's outside parent
])


def _tree_fill_pass(carved: TiledRaster, walk_state, meta,
                    eps: bool) -> TiledRaster:
    """Post-fill (the serial kernel's flood_array pass): raise every
    cell so it drains over its Priority-Flood parent — a prefix scan
    ``v[f] = max(b_f, v[parent] + d)`` in float-bit space over the
    backlink forest (module docstring point 3)."""
    tw, th = meta.tile_w, meta.tile_h
    W, H = meta.width, meta.height
    nodata = meta.nodata
    d_step = np.int64(1 if eps else 0)
    _ND_UP = np.int64(-(2 ** 62))  # v_up for NoData parents: never wins

    joined = carved.df.select(
        "tile_x", "tile_y", "width", "height", "data"
    ).join(
        walk_state.select("tile_x", "tile_y", "parent"),
        ["tile_x", "tile_y"],
    )

    def wave1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _FILL_SCHEMA.fields}
            for r in pdf.itertuples():
                h, w = r.height, r.width
                a = unpack(r.data, h, w, "float64")
                par = unpack(r.parent, h, w, "uint8").ravel()
                n = h * w
                bits = _f2i(a.ravel())
                ndm = (a.ravel() == nodata) if nodata is not None \
                    else np.zeros(n, bool)
                ys, xs = np.divmod(np.arange(n), w)
                par = np.where(par > 8, 0, par)  # FLOWDIR_NO_DATA -> root
                pdx, pdy = D8X[par], D8Y[par]
                nxs, nys = xs + pdx, ys + pdy
                pgx = nxs + r.tile_x * tw
                pgy = nys + r.tile_y * th
                on_grid = ((pgx >= 0) & (pgx < W)
                           & (pgy >= 0) & (pgy < H))
                has_p = (par > 0) & ~ndm & on_grid
                inside = has_p & (nxs >= 0) & (nxs < w) & (nys >= 0) \
                    & (nys < h)
                # in-tile NoData parents: the cell drains into a hole —
                # rooted at its own value (the serial twin's skip rule)
                in_nd_par = inside.copy()
                in_nd_par[inside] = ndm[nys[inside] * w + nxs[inside]]
                inside &= ~in_nd_par
                has_p &= ~in_nd_par
                cross = has_p & ~inside          # heads
                # pointer graph: cells point at their in-tile parent;
                # roots (-1) = seeds AND heads (their upstream part is
                # resolved cross-seam)
                ptr = np.full(n, -1, np.int64)
                ptr[inside] = nys[inside] * w + nxs[inside]
                # state: v(c) = max(C, v(t) + D), t = current target
                C = bits.copy()
                D = np.where(has_p, d_step, np.int64(0))
                idx = np.arange(n)
                exq = np.full(n, -1, np.int64)
                gi_all = (ys + r.tile_y * th) * W + (xs + r.tile_x * tw)
                exq[cross] = gi_all[cross]       # heads reference selves
                # Doubling invariant: v(c) = max(C_c, v(t_c) + D_c)
                # while t_c >= 0; when t_c == -1 the chain is folded —
                # exq_c >= 0 means v(c) = max(C_c, v_up(exq_c) + D_c)
                # (head chain), exq_c < 0 means v(c) = C_c (rooted).
                t = ptr.copy()
                for _ in range(int(np.ceil(np.log2(n + 2))) + 3):
                    mv = t >= 0
                    if not mv.any():
                        break
                    tm = t[mv]
                    nC = np.maximum(C[mv], C[tm] + D[mv])
                    nD = D[tm] + D[mv]
                    nt = t[tm]
                    nexq = np.where(nt < 0, exq[tm], np.int64(-1))
                    C[mv], D[mv], t[mv], exq[mv] = nC, nD, nt, nexq
                # heads (C=b_h, D=d, exq=self, t=-1) resolve cross-seam
                hy, hx = np.divmod(idx[cross], w)
                hq = ((hy + pdy[cross] + r.tile_y * th) * W
                      + (hx + pdx[cross] + r.tile_x * tw))
                ring = ((ys == 0) | (ys == h - 1) | (xs == 0)
                        | (xs == w - 1))
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(w)
                out["height"].append(h)
                out["vals"].append(pack(C))
                out["exd"].append(pack(D))
                out["exq"].append(pack(exq))
                out["ring_gi"].append(pack(gi_all[ring]))
                out["ring_c"].append(pack(C[ring]))
                out["ring_d"].append(pack(D[ring]))
                out["ring_exq"].append(pack(exq[ring]))
                out["ring_nd"].append(pack(
                    ndm[ring].astype(np.uint8)))
                out["hgi"].append(pack(gi_all[cross]))
                out["hq"].append(pack(hq))
            yield pd.DataFrame(out)

    st = joined.mapInPandas(wave1, _FILL_SCHEMA).persist()

    # ---- cross-seam resolution (O(perimeter) rows to the driver) ----
    # For each head h: upstream value v_up(h) = v(q) where q is h's
    # outside parent.  v(q) = C_q (resolved) if exq_q < 0 else
    # max(C_q, v_up(exq_q) + D_q).  Only the 1-ring perimeter cells of
    # each tile can be a q, so only ring states + heads are gathered.
    rows = st.select("ring_gi", "ring_c", "ring_d", "ring_exq",
                     "ring_nd", "hgi", "hq").collect()
    q_state = {}
    chains = []
    for r in rows:
        gis = np.frombuffer(r.ring_gi, np.int64)
        C = np.frombuffer(r.ring_c, np.int64)
        D = np.frombuffer(r.ring_d, np.int64)
        exq = np.frombuffer(r.ring_exq, np.int64)
        rnd = np.frombuffer(r.ring_nd, np.uint8)
        for g, c, dd, q, ndf in zip(gis.tolist(), C.tolist(),
                                    D.tolist(), exq.tolist(),
                                    rnd.tolist()):
            q_state[g] = (c, dd, q, bool(ndf))
        hgi = np.frombuffer(r.hgi, np.int64)
        hq = np.frombuffer(r.hq, np.int64)
        chains.extend(zip(hgi.tolist(), hq.tolist()))

    head_parent = dict(chains)
    v_up: dict[int, int] = {}

    def resolve_up(hg):
        """v_up(h) = value of h's outside parent chain; NoData parents
        contribute nothing (the serial twin's skip rule)."""
        stack = []
        cur = hg
        while cur not in v_up:
            q = head_parent[cur]
            c, dd, nxt_head, qnd = q_state[q]
            if qnd:
                v_up[cur] = int(_ND_UP)
                break
            if nxt_head < 0:
                v_up[cur] = c
                break
            stack.append((cur, q))
            cur = nxt_head
        for hh, q in reversed(stack):
            c, dd, nxt_head, _qnd = q_state[q]
            v_up[hh] = max(c, v_up[nxt_head] + dd)
        return v_up[hg]

    for hg in head_parent:
        resolve_up(hg)

    spark = carved.df.sparkSession
    bc = spark.sparkContext.broadcast(v_up)

    def wave2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vu = bc.value
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                C = np.frombuffer(r.vals, np.int64).copy()
                D = np.frombuffer(r.exd, np.int64)
                exq = np.frombuffer(r.exq, np.int64)
                m = exq >= 0
                if m.any():
                    up = np.array([vu[int(g)] for g in exq[m].tolist()],
                                  dtype=np.int64)
                    C[m] = np.maximum(C[m], up + D[m])
                out.append((r.tile_x, r.tile_y, _i2f(C).reshape(h, w), nodata))
            yield tile_frame(out)

    res = TiledRaster(
        st.mapInPandas(wave2, TILE_SCHEMA),
        meta.with_history("breach_fill_pass"),
    )
    if nodata is not None:
        from .focal import combine_tiles

        res = combine_tiles(
            res, carved,
            lambda v, c: np.where(c == nodata, nodata, v),
            out_dtype="float64", out_nodata=nodata,
            op_name="breach_fill_nodata_restore",
        )
    return res
