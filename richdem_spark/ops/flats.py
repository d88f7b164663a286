"""Distributed flat resolution (Barnes 2014a) — cross-tile.

The single-grid algorithm (kernels/flats.py) re-expressed as tile rounds:

1. **Label flats globally**: per-tile connected components of
   equal-elevation candidate cells (vectorized CCL on the halo-padded
   tile), a seam union-find in one global solve merges components
   across tiles;
   a flat is *drainable* iff its global component contains a low-edge
   cell anywhere on the DEM.
2. **Away/towards gradients**: the reference's level-synchronous BFS
   becomes distributed distance relaxation — each round runs the full
   local BFS per tile, exchanges 1-cell halos of distances, and repeats
   until no distance improves anywhere (Bellman-Ford over the tile
   graph; rounds = flat diameter in tiles).
3. **Combine + route**: ``flat_height`` per global flat aggregates the
   max away-distance; the superposed mask and in-flat flow directions
   are per-tile passes with halo (d8_masked_FlowDir semantics).

Output equals kernels/flats.resolve_flats_pipeline cell-for-cell (the
differential oracle in tests/test_flats.py).
"""

from __future__ import annotations


from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..constants import D8X, D8Y, FLOWDIR_NO_DATA, NO_FLOW, TOPO_D8
from ..kernels.ccl import label_components
from ..tiles import (
    HALO_STRIP_COLS,
    TILE_SCHEMA,
    Plane,
    RasterMeta,
    TiledRaster,
    assemble_padded,
    border_strips,
    halo_exchange,
    halo_join,
    pack,
    pad_planes,
    tile_frame,
    unpack,
)
from .solve import perimeter_rows, solve_per_tile

_IMAX = np.iinfo(np.int64).max

_LAB_STRIPS = ("lab_n", "lab_s", "lab_w", "lab_e")
_ELV_STRIPS = ("elv_n", "elv_s", "elv_w", "elv_e")
# the two gradient planes (away-from-higher, towards-lower) of one
# depth-1 halo exchange per BFS round
_DIST_PLANES = [Plane("dist_hi", "int64"), Plane("dist_lo", "int64")]

_STATE_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("dirs", BinaryType(), False),     # uint8
        StructField("labels", BinaryType(), False),   # int64
        StructField("low", BinaryType(), False),      # uint8
        StructField("high", BinaryType(), False),     # uint8
        StructField("lab_n", BinaryType(), False),
        StructField("lab_s", BinaryType(), False),
        StructField("lab_w", BinaryType(), False),
        StructField("lab_e", BinaryType(), False),
        StructField("elv_n", BinaryType(), False),
        StructField("elv_s", BinaryType(), False),
        StructField("elv_w", BinaryType(), False),
        StructField("elv_e", BinaryType(), False),
        StructField("lid", ArrayType(LongType()), False),
        StructField("lid_low", ArrayType(IntegerType()), False),
    ]
)

_DIST2_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("dist_hi", BinaryType(), False),  # away-from-higher
        StructField("dist_lo", BinaryType(), False),  # towards-lower
        StructField("changed", IntegerType(), False),
        # border strips of both planes (tiles.border_strips), so each
        # round's halo exchange is cut in the JVM — no Python pass over
        # the distance blobs per round
        StructField("hs_n", BinaryType(), True),
        StructField("hs_s", BinaryType(), True),
        StructField("hs_w", BinaryType(), True),
        StructField("hs_e", BinaryType(), True),
    ]
)


def _put_strips(out: dict, names, *planes) -> None:
    for name, strip in zip(names, border_strips(*planes)):
        out[name].append(strip)


def _shifts(h, w, topology: str = TOPO_D8):
    """Neighbour (dst, src) slice pairs — all 8 for D8, cardinals only
    (W/N/E/S = dirs 1/3/5/7) for D4."""
    out = []
    dirs_n = range(1, 9) if topology == TOPO_D8 else (1, 3, 5, 7)
    for n in dirs_n:
        dx, dy = int(D8X[n]), int(D8Y[n])
        dst = (slice(max(0, -dy), h - max(0, dy)),
               slice(max(0, -dx), w - max(0, dx)))
        src = (slice(max(0, dy), h + min(0, dy)),
               slice(max(0, dx), w + min(0, dx)))
        out.append((dst, src))
    return out


def _local_bfs(dist: np.ndarray, allowed: np.ndarray,
               labels: np.ndarray,
               topology: str = TOPO_D8) -> np.ndarray:
    """Multi-source BFS distance relaxation within a tile, expanding
    through same-label `allowed` cells.  Vectorized level sweeps."""
    h, w = dist.shape
    shifts = _shifts(h, w, topology)
    cur = dist
    while True:
        best = cur.copy()
        for dst, src in shifts:
            cand = np.where(
                allowed[dst] & (labels[dst] == labels[src])
                & (cur[src] < _IMAX),
                cur[src] + 1, _IMAX,
            )
            np.minimum(best[dst], cand, out=best[dst])
        if np.array_equal(best, cur):
            return cur
        cur = best


def _labels_raster(st, meta: RasterMeta) -> TiledRaster:
    # the state frame already packs the label border strips (lab_*);
    # projected onto the tile columns they are the label raster's
    # strips.  The meta carries the LABEL dtype (int64), not the DEM's.
    from dataclasses import replace as _replace

    return TiledRaster(
        st.select(
            "tile_x", "tile_y", "width", "height",
            F.lit("int64").alias("dtype"),
            F.lit(None).cast("double").alias("nodata"),
            F.col("labels").alias("data"),
            F.col("lab_n").alias("hs_n"), F.col("lab_s").alias("hs_s"),
            F.col("lab_w").alias("hs_w"), F.col("lab_e").alias("hs_e"),
        ),
        _replace(meta, dtype="int64", nodata=None),
    )


def resolve_flats_distributed(
    elev: TiledRaster, dirs: TiledRaster, max_rounds: int = 10_000,
    topology: str = TOPO_D8, metrics: dict | None = None,
):
    """Distributed resolve_flats_barnes; returns
    (flat_mask: TiledRaster[int64], labels: TiledRaster[int64]).

    ``topology='D4'`` restricts every adjacency (flat components, seam
    unions, gradient BFS) to the cardinal neighbours — the gradient
    substrate for the D4 epsilon fill (Barnes2014.hpp:424-451 D4
    dispatch)."""
    meta = elev.meta
    conn = 8 if topology == TOPO_D8 else 4
    spark = elev.df.sparkSession
    ntx = meta.ntiles_x
    # compacted per-level component ids are bounded by the padded cell
    # count plus one gap per level
    stride = 2 * (meta.tile_w + 2) * (meta.tile_h + 2) + 16

    # ---- phase 1 --------------------------------------------------------
    d_halo = halo_join(dirs).select(
        "tile_x", "tile_y",
        F.col("data").alias("ddata"), F.col("dtype").alias("ddtype"),
        F.col("halo").alias("dhalo"),
    )
    e_halo = halo_join(elev).join(d_halo, ["tile_x", "tile_y"])

    def phase1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _STATE_SCHEMA.fields}
            for r in pdf.itertuples():
                e_core = unpack(r.data, r.height, r.width, r.dtype)
                d_core = unpack(r.ddata, r.height, r.width, r.ddtype)
                pe, pt, pl = assemble_padded(e_core, r.halo, r.dtype,
                                             np.nan)
                pdirs, _, _ = assemble_padded(
                    d_core, r.dhalo, r.ddtype, float(FLOWDIR_NO_DATA))
                ph, pw = pe.shape
                core = (slice(pt, pt + r.height), slice(pl, pl + r.width))

                valid = pdirs != FLOWDIR_NO_DATA
                low = np.zeros((ph, pw), bool)
                high = np.zeros((ph, pw), bool)
                same_any = np.zeros((ph, pw), bool)
                for dst, src in _shifts(ph, pw, topology):
                    nb_ok = valid[src]
                    low[dst] |= (
                        (pdirs[dst] != NO_FLOW) & valid[dst] & nb_ok
                        & (pdirs[src] == NO_FLOW) & (pe[src] == pe[dst])
                    )
                    high[dst] |= (
                        (pdirs[dst] == NO_FLOW) & valid[dst] & nb_ok
                        & (pe[dst] < pe[src])
                    )
                    same_any[dst] |= (pe[src] == pe[dst]) & nb_ok \
                        & valid[dst]
                cand = (same_any | (pdirs == NO_FLOW)) & valid
                # flats are EQUAL-elevation components (label_this floods
                # by elevation equality, flat_resolution.hpp:331-355):
                # label per distinct candidate elevation; component ids
                # are compacted so offsets stay within the tile's label
                # stride (no cross-tile id collisions)
                comp = np.zeros(cand.shape, dtype=np.int64)
                off = 0
                for z in np.unique(pe[cand]).tolist():
                    cz = cand & (pe == z)
                    lz = label_components(cz, conn)
                    _, compact = np.unique(lz[cz], return_inverse=True)
                    comp[cz] = compact + 1 + off
                    off += int(compact.max()) + 2 if compact.size else 0
                base = 2 + (r.tile_y * ntx + r.tile_x) * stride
                labels = np.where(comp[core] > 0, comp[core] + base,
                                  0).astype(np.int64)
                lowc = low[core]
                highc = high[core]
                lids = np.unique(labels[labels > 0])
                has_low = (
                    np.array([bool(lowc[labels == l].any())
                              for l in lids], dtype=np.int64)
                    if lids.size else np.array([], dtype=np.int64)
                )
                ecore = pe[core]
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(r.width)
                out["height"].append(r.height)
                out["dirs"].append(pack(d_core.astype(np.uint8)))
                out["labels"].append(pack(labels))
                out["low"].append(pack(lowc.astype(np.uint8)))
                out["high"].append(pack(highc.astype(np.uint8)))
                _put_strips(out, _LAB_STRIPS, labels)
                _put_strips(out, _ELV_STRIPS, ecore.astype(np.float64))
                out["lid"].append([int(x) for x in lids])
                out["lid_low"].append([int(x) for x in has_low])
            yield pd.DataFrame(out)

    st = e_halo.mapInPandas(phase1, _STATE_SCHEMA).persist()

    # ---- seam union-find (one global solve, ops/solve.py) ---------------
    def alias_solve(rows):
        by_key = {(r.tile_x, r.tile_y): r for r in rows}

        def seam_pairs(sa, sb, ea_, eb_):
            la = np.frombuffer(sa, dtype=np.int64)
            lb = np.frombuffer(sb, dtype=np.int64)
            ea = np.frombuffer(ea_, dtype=np.float64)
            eb = np.frombuffer(eb_, dtype=np.float64)
            n = len(la)
            prs = set()
            for off in ((-1, 0, 1) if conn == 8 else (0,)):
                lo, hi = max(0, -off), min(n, n - off)
                l1, l2 = la[lo:hi], lb[lo + off : hi + off]
                m = (l1 > 0) & (l2 > 0) & (
                    ea[lo:hi] == eb[lo + off : hi + off])
                for a, b in zip(l1[m], l2[m]):
                    prs.add((int(a), int(b)))
            return prs

        pairs = set()
        for (tx, ty), r in by_key.items():
            if (tx + 1, ty) in by_key:
                r2 = by_key[(tx + 1, ty)]
                pairs |= seam_pairs(r.lab_e, r2.lab_w, r.elv_e, r2.elv_w)
            if (tx, ty + 1) in by_key:
                r2 = by_key[(tx, ty + 1)]
                pairs |= seam_pairs(r.lab_s, r2.lab_n, r.elv_s, r2.elv_n)
            for ddx in ((-1, 1) if conn == 8 else ()):  # corners
                if (tx + ddx, ty + 1) in by_key:
                    r2 = by_key[(tx + ddx, ty + 1)]
                    ia = -1 if ddx == 1 else 0
                    ib = 0 if ddx == 1 else -1
                    a = np.frombuffer(r.lab_s, np.int64)[ia]
                    b = np.frombuffer(r2.lab_n, np.int64)[ib]
                    ea = np.frombuffer(r.elv_s, np.float64)[ia]
                    eb = np.frombuffer(r2.elv_n, np.float64)[ib]
                    if a > 0 and b > 0 and ea == eb:
                        pairs.add((int(a), int(b)))

        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        has_low_g: dict[int, bool] = {}
        for r in rows:
            for l, hl in zip(r.lid, r.lid_low):
                g = find(int(l))
                has_low_g[g] = has_low_g.get(g, False) or bool(hl)
        # per-owner-tile alias lists (label ids embed their owner tile)
        per_tile: dict[tuple, tuple] = {}
        for r in rows:
            olds, news = [], []
            for l in r.lid:
                g = find(int(l))
                olds.append(int(l))
                news.append(g if has_low_g.get(g, False) else 0)
            per_tile[(r.tile_x, r.tile_y)] = (olds, news)
        return [(k[0], k[1], v[0], v[1]) for k, v in per_tile.items()]

    alias_schema = StructType([
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("olds", ArrayType(LongType()), False),
        StructField("news", ArrayType(LongType()), False),
    ])
    joined, alias_of = solve_per_tile(
        st, ["tile_x", "tile_y", "lab_n", "lab_s", "lab_w", "lab_e",
             "elv_n", "elv_s", "elv_w", "elv_e", "lid", "lid_low"],
        alias_solve, alias_schema, perimeter_rows(meta))

    def relabel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _STATE_SCHEMA.fields}
            for r in pdf.itertuples():
                labels = unpack(r.labels, r.height, r.width,
                                "int64").copy()
                alias = alias_of(r)
                amap = dict(zip(*alias)) if alias else {}
                # vectorized remap (a per-label boolean mask pass is
                # O(#labels x cells) — quadratic on label-rich tiles)
                uniq, inv = np.unique(labels, return_inverse=True)
                lut = np.array(
                    [amap.get(int(u), 0) if u > 0 else 0
                     for u in uniq.tolist()], dtype=np.int64)
                labels = lut[inv].reshape(labels.shape)
                out["labels"].append(pack(labels))
                _put_strips(out, _LAB_STRIPS, labels)
                for f in _STATE_SCHEMA.fields:
                    if f.name != "labels" and f.name not in _LAB_STRIPS:
                        out[f.name].append(getattr(r, f.name))
            yield pd.DataFrame(out)

    st2 = joined.mapInPandas(relabel, _STATE_SCHEMA).persist()
    import time as _time

    _t0 = _time.perf_counter()
    st2.count()
    if metrics is not None:
        metrics["label_sec"] = round(_time.perf_counter() - _t0, 3)
    st.unpersist()


    lab_halo = halo_join(_labels_raster(st2, meta)).select(
        "tile_x", "tile_y", F.col("halo").alias("lab_halo"),
    ).persist()

    # ---- phase 2: distributed BFS distances ------------------------------
    # Both gradient planes (away-from-higher, towards-lower) relax in
    # ONE round loop: the planes are independent, so running them
    # sequentially (the round-4 shape) paid the per-round seam
    # synchronization twice — rounds are now max(diam_hi, diam_lo)
    # instead of their sum, and each round ships both planes' strips in
    # one halo exchange.
    def init2(it):
        for pdf in it:
            out = {f.name: [] for f in _DIST2_SCHEMA.fields}
            for r in pdf.itertuples():
                labels = unpack(r.labels, r.height, r.width, "int64")
                dirs_a = unpack(r.dirs, r.height, r.width, "uint8")
                allowed = (dirs_a == NO_FLOW) & (labels > 0)
                planes = []
                for seed_col in ("high", "low"):
                    seed = unpack(getattr(r, seed_col), r.height,
                                  r.width, "uint8").astype(bool)
                    if seed_col == "high":
                        seed = seed & (labels > 0)
                    dist = np.full((r.height, r.width), _IMAX,
                                   dtype=np.int64)
                    dist[seed] = 1
                    planes.append(_local_bfs(dist, allowed, labels,
                                             topology))
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(r.width)
                out["height"].append(r.height)
                out["dist_hi"].append(pack(planes[0]))
                out["dist_lo"].append(pack(planes[1]))
                out["changed"].append(1)
                _put_strips(out, HALO_STRIP_COLS, *planes)
            yield pd.DataFrame(out)

    _t0 = _time.perf_counter()
    dist_df = st2.mapInPandas(init2, _DIST2_SCHEMA) \
        .localCheckpoint(eager=True)
    if metrics is not None:
        metrics["bfs_init_sec"] = round(_time.perf_counter() - _t0, 3)

    _t0 = _time.perf_counter()
    _rounds = 0
    _round_secs: list[float] = []
    for _ in range(max_rounds):
        _rounds += 1
        _tr0 = _time.perf_counter()
        joined = st2.select("tile_x", "tile_y", "dirs", "labels") \
            .join(halo_exchange(dist_df, meta, _DIST_PLANES),
                  ["tile_x", "tile_y"]) \
            .join(lab_halo, ["tile_x", "tile_y"], "left")

        def relax2(it):
            for pdf in it:
                out = {f.name: [] for f in _DIST2_SCHEMA.fields}
                for r in pdf.itertuples():
                    labels = unpack(r.labels, r.height, r.width,
                                    "int64")
                    dirs_a = unpack(r.dirs, r.height, r.width, "uint8")
                    plab, _, _ = assemble_padded(
                        labels, r.lab_halo, "int64", -1.0)
                    allowed = (dirs_a == NO_FLOW) & (labels > 0)
                    changed = 0
                    news = []
                    dists = [unpack(blob, r.height, r.width, "int64")
                             for blob in (r.dist_hi, r.dist_lo)]
                    pdists, pt, pl = pad_planes(dists, r.halo,
                                                [_IMAX, _IMAX])
                    for dist, pdist in zip(dists, pdists):
                        ph, pw = pdist.shape
                        core = (slice(pt, pt + r.height),
                                slice(pl, pl + r.width))
                        new = dist.copy()
                        for dst, src in _shifts(ph, pw, topology):
                            cand = np.full((ph, pw), _IMAX,
                                           dtype=np.int64)
                            cand[dst] = np.where(
                                (plab[src] == plab[dst])
                                & (pdist[src] < _IMAX),
                                pdist[src] + 1, _IMAX,
                            )
                            c = cand[core]
                            m = allowed & (c < new)
                            new[m] = c[m]
                        if (new < dist).any():
                            new = _local_bfs(new, allowed, labels,
                                             topology)
                            changed = 1
                        news.append(new)
                    out["tile_x"].append(r.tile_x)
                    out["tile_y"].append(r.tile_y)
                    out["width"].append(r.width)
                    out["height"].append(r.height)
                    out["dist_hi"].append(pack(news[0]))
                    out["dist_lo"].append(pack(news[1]))
                    out["changed"].append(changed)
                    _put_strips(out, HALO_STRIP_COLS, *news)
                yield pd.DataFrame(out)

        # lazy localCheckpoint: the changed-count agg below is the
        # round's ONE action — it materializes the checkpoint and reads
        # the convergence flag in the same job (eager + agg was two)
        new_df = joined.mapInPandas(relax2, _DIST2_SCHEMA) \
            .localCheckpoint(eager=False)
        n_changed = new_df.agg(F.sum("changed")).collect()[0][0]

        dist_df.unpersist()
        dist_df = new_df
        _round_secs.append(round(_time.perf_counter() - _tr0, 3))
        if not n_changed:
            break
    if metrics is not None:
        metrics["bfs_rounds"] = _rounds
        metrics["bfs_round_secs"] = _round_secs
        metrics["bfs_sec"] = round(_time.perf_counter() - _t0, 3)

    away = dist_df.select("tile_x", "tile_y", "width", "height",
                          F.col("dist_hi").alias("dist"))
    towards = dist_df.select("tile_x", "tile_y", "width", "height",
                             F.col("dist_lo").alias("dist"))

    # ---- flat_height per global flat (max away level) --------------------
    # per-tile partials + groupBy(flat) max — then shipped back per tile
    # via a presence join, NOT a global broadcast (#flats is unbounded
    # at 100 TB; each tile only needs its own labels' heights)
    def flat_heights(it):
        for pdf in it:
            tx, ty, la, lv = [], [], [], []
            for r in pdf.itertuples():
                labels = unpack(r.labels, r.height, r.width,
                                "int64").ravel()
                ad = unpack(r.dist, r.height, r.width, "int64").ravel()
                pos = labels > 0
                lf, af = labels[pos], ad[pos]
                uniq, inv = np.unique(lf, return_inverse=True)
                hmax = np.full(uniq.size, -1, dtype=np.int64)
                ok = af < _IMAX
                np.maximum.at(hmax, inv[ok], af[ok])
                tx.extend([r.tile_x] * uniq.size)
                ty.extend([r.tile_y] * uniq.size)
                la.extend(int(x) for x in uniq)
                lv.extend(int(x) for x in hmax)
            yield pd.DataFrame({"tile_x": tx, "tile_y": ty,
                                "flat": la, "h": lv})

    fh_schema = StructType([
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("flat", LongType(), False),
        StructField("h", LongType(), False),
    ])
    presence = (
        st2.select("tile_x", "tile_y", "width", "height", "labels")
        .join(away.select("tile_x", "tile_y", "dist"),
              ["tile_x", "tile_y"])
        .mapInPandas(flat_heights, fh_schema)
        .persist()
    )
    fh_global = presence.groupBy("flat").agg(F.max("h").alias("gh"))
    fh_lists = (
        presence.select("tile_x", "tile_y", "flat")
        .join(fh_global, "flat")
        .groupBy("tile_x", "tile_y")
        .agg(F.collect_list(F.struct("flat", "gh")).alias("fh_list"))
    )

    # ---- combine into the superposed mask --------------------------------
    mask_join = (
        st2.select("tile_x", "tile_y", "width", "height", "labels")
        .join(away.select("tile_x", "tile_y",
                          F.col("dist").alias("away")),
              ["tile_x", "tile_y"])
        .join(towards.select("tile_x", "tile_y",
                             F.col("dist").alias("towards")),
              ["tile_x", "tile_y"])
        .join(fh_lists, ["tile_x", "tile_y"], "left")
    )

    def combine(it):
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                labels = unpack(r.labels, r.height, r.width, "int64")
                aw = unpack(r.away, r.height, r.width, "int64")
                tw = unpack(r.towards, r.height, r.width, "int64")
                awv = np.where(aw < _IMAX, aw, 0)
                twv = np.where(tw < _IMAX, tw, 0)
                fhm = {}
                if r.fh_list is not None:
                    for s in r.fh_list:
                        if s["gh"] >= 0:
                            fhm[int(s["flat"])] = int(s["gh"])
                uniq, inv = np.unique(labels, return_inverse=True)
                lut = np.array(
                    [fhm.get(int(u), 0) if u > 0 else 0
                     for u in uniq.tolist()], dtype=np.int64)
                fhv = lut[inv].reshape(labels.shape)
                # same formula as kernels/flats.resolve_flats
                mask = np.where(
                    twv > 0,
                    np.where(awv > 0, fhv - awv + 2 * twv, 2 * twv),
                    awv,
                )
                out.append((r.tile_x, r.tile_y, mask.astype(np.int64), -1.0))
            yield tile_frame(out)

    mask_df = mask_join.mapInPandas(combine, TILE_SCHEMA)
    mask_tr = TiledRaster(
        mask_df,
        RasterMeta(
            width=meta.width, height=meta.height, tile_w=meta.tile_w,
            tile_h=meta.tile_h, nodata=-1.0, dtype="int64",
            geotransform=meta.geotransform,
        ).with_history("resolve_flats_distributed(mask)"),
    )
    lab_tr = TiledRaster(
        _labels_raster(st2, meta).df,
        RasterMeta(
            width=meta.width, height=meta.height, tile_w=meta.tile_w,
            tile_h=meta.tile_h, nodata=None, dtype="int64",
            geotransform=meta.geotransform,
        ).with_history("resolve_flats_distributed(labels)"),
    )
    return mask_tr, lab_tr


def flow_dirs_through_flats(
    dirs: TiledRaster, mask: TiledRaster, labels: TiledRaster
) -> TiledRaster:
    """d8_flow_flats distributed: per-tile pass with halos of
    (mask, labels), assigning directions to NO_FLOW cells inside
    resolved flats (flat_resolution.hpp:96-116)."""
    meta = dirs.meta

    m_halo = halo_join(mask).select(
        "tile_x", "tile_y", F.col("data").alias("mdata"),
        F.col("halo").alias("mhalo"),
    )
    l_halo = halo_join(labels).select(
        "tile_x", "tile_y", F.col("data").alias("ldata"),
        F.col("halo").alias("lhalo"),
    )
    joined = dirs.df.join(m_halo, ["tile_x", "tile_y"]).join(
        l_halo, ["tile_x", "tile_y"])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.flats import d8_flow_flats

        for pdf in it:
            out = []
            for r in pdf.itertuples():
                d = unpack(r.data, r.height, r.width, r.dtype)
                mk = unpack(r.mdata, r.height, r.width, "int64")
                lb = unpack(r.ldata, r.height, r.width, "int64")
                pm, pt, pl = assemble_padded(mk, r.mhalo, "int64", -1.0)
                plb, _, _ = assemble_padded(lb, r.lhalo, "int64", -2.0)
                pd_dirs = np.full(pm.shape, 0, dtype=np.uint8)
                pd_dirs[pt : pt + r.height, pl : pl + r.width] = d
                # run the masked flowdir on the padded arrays; slice core
                res = d8_flow_flats(pm, plb, pd_dirs)
                core = res[pt : pt + r.height, pl : pl + r.width]
                # only NO_FLOW core cells change; keep original elsewhere
                final = np.where((d == NO_FLOW), core, d).astype(np.uint8)
                out.append((r.tile_x, r.tile_y, final, float(FLOWDIR_NO_DATA)))
            yield tile_frame(out)

    out_df = joined.mapInPandas(run, TILE_SCHEMA)
    return TiledRaster(
        out_df, dirs.meta.with_history("d8_flow_flats_distributed")
    )

def alter_dem_distributed(
    elev: TiledRaster, mask: TiledRaster, labels: TiledRaster
) -> TiledRaster:
    """d8_flats_alter_dem distributed (flat_resolution.hpp:545-582):
    apply the flat mask as repeated np.nextafter increments.  Purely
    per-cell given the global mask/labels; only global-DEM-edge cells are
    skipped (the kernel's array-edge rule)."""
    meta = elev.meta
    ntx, nty = meta.ntiles_x, meta.ntiles_y
    m_df = mask.df.select("tile_x", "tile_y",
                          F.col("data").alias("mdata"))
    l_df = labels.df.select("tile_x", "tile_y",
                            F.col("data").alias("ldata"))
    joined = elev.df.join(m_df, ["tile_x", "tile_y"]).join(
        l_df, ["tile_x", "tile_y"])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                e = unpack(r.data, r.height, r.width,
                           r.dtype).astype(np.float64).copy()
                mk = unpack(r.mdata, r.height, r.width, "int64")
                lb = unpack(r.ldata, r.height, r.width, "int64")
                todo = mk.copy()
                todo[lb == 0] = 0
                todo[todo < 0] = 0
                # skip global-DEM-edge cells (kernel's interior-only rule)
                if r.tile_y == 0:
                    todo[0, :] = 0
                if r.tile_y == nty - 1:
                    todo[-1, :] = 0
                if r.tile_x == 0:
                    todo[:, 0] = 0
                if r.tile_x == ntx - 1:
                    todo[:, -1] = 0
                sel = todo > 0
                if sel.any():
                    from ..kernels.flats import nextafter_k

                    e[sel] = nextafter_k(e[sel], todo[sel])
                out.append((r.tile_x, r.tile_y, e, r.nodata))
            yield tile_frame(out)

    out_df = joined.mapInPandas(run, TILE_SCHEMA)
    return TiledRaster(
        out_df, elev.meta.with_history("d8_flats_alter_dem_distributed")
    )


def dinf_flow_flats_distributed(
    angles: TiledRaster, mask: TiledRaster, labels: TiledRaster
) -> TiledRaster:
    """dinf_flow_flats distributed: per-tile pass with halos of
    (mask, labels), recomputing NO_FLOW (-1) D-infinity angles inside
    resolved flats (flat_resolution_dinf.hpp:74-98)."""
    m_halo = halo_join(mask).select(
        "tile_x", "tile_y", F.col("data").alias("mdata"),
        F.col("halo").alias("mhalo"),
    )
    l_halo = halo_join(labels).select(
        "tile_x", "tile_y", F.col("data").alias("ldata"),
        F.col("halo").alias("lhalo"),
    )
    joined = angles.df.join(m_halo, ["tile_x", "tile_y"]).join(
        l_halo, ["tile_x", "tile_y"])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.flowmet import DINF_NO_FLOW, dinf_flow_flats

        for pdf in it:
            out = []
            for r in pdf.itertuples():
                a = unpack(r.data, r.height, r.width, "float64")
                mk = unpack(r.mdata, r.height, r.width, "int64")
                lb = unpack(r.ldata, r.height, r.width, "int64")
                pm, pt, pl = assemble_padded(mk, r.mhalo, "int64", -1.0)
                plb, _, _ = assemble_padded(lb, r.lhalo, "int64", 0.0)
                pa = np.full(pm.shape, DINF_NO_FLOW, dtype=np.float64)
                # halo angles irrelevant (only the core is resolved and
                # group checks guard neighbours); mark halo as flowing so
                # it is never treated as part of the todo set
                pa[...] = 1e9
                pa[pt : pt + r.height, pl : pl + r.width] = a
                res = dinf_flow_flats(pm, plb, pa)
                core = res[pt : pt + r.height, pl : pl + r.width]
                out.append((r.tile_x, r.tile_y, core, -1.0))
            yield tile_frame(out)

    out_df = joined.mapInPandas(run, TILE_SCHEMA)
    return TiledRaster(
        out_df, angles.meta.with_history("dinf_flow_flats_distributed")
    )
