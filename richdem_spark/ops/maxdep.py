"""Distributed max-depression-size fill (Barnes2014 max_dep).

Re-derivation of ``PriorityFlood_Barnes2014_max_dep``
(``include/richdem/depressions/Barnes2014.hpp:844-931``): fill only the
depression *episodes* of at most ``max_dep_size`` cells.  The reference
drives a single global priority queue, which earlier rounds took to be
inherently sequential; it is not.  The sequential dynamics reduce to a
closed form over the ordinary Priority-Flood fill:

1. **Episode cells** are exactly ``filled > dem``: a cell enters the
   reference's pit queue iff it sits strictly below its flood level,
   and the raise target (the episode's ``dep_elev``) is exactly the
   fill value.
2. **A connected component of that mask floods within one episode**
   (its cells push each other onto the pit queue), so components never
   split across episodes.
3. **Components merge into one episode iff they share a trigger**: the
   open-pop that first floods a component is its *spill* — the
   minimum-elevation non-mask neighbour (the first such cell the
   ascending global queue processes).  A single saddle cell below both
   of its side-slopes triggers both components in one pop, and the
   episode's size is their sum.

So: distributed fill -> delta mask -> distributed CCL with per-root
(total size, canonical trigger cell) -> group roots by trigger cell ->
fill every group whose total is <= max_dep_size.  Verified cell-exact
against the serial kernel on 600 tie-free random grids and both
reference goldens (tests/tests.cpp:275-289).

Tie note: when several spill candidates share the minimum elevation the
reference's episode grouping follows ``std::priority_queue`` pop order
among equal keys — unspecified behaviour.  This implementation uses the
canonical (elevation, global index) minimum; on such ties a different —
equally valid — episode grouping may result (both goldens reproduce).

NoData is treated as an ordinary (very negative) elevation, exactly as
the reference assumes (Barnes2014.hpp:833-835).

Communication: one distributed fill, two 1-ring halo exchanges, one
O(perimeter) component solve (ops/solve.py) read by the final per-tile
pass.  Tile interiors never shuffle.
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

from ..constants import D8X, D8Y, TOPO_D8
from ..kernels.ccl import label_components
from ..tiles import (
    TILE_SCHEMA,
    TiledRaster,
    assemble_padded,
    halo_join,
    pack,
    tile_frame,
    unpack,
)
from .solve import perimeter_rows, solve_per_tile

_MD_SCHEMA = StructType([
    StructField("tile_x", IntegerType(), False),
    StructField("tile_y", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("comp", BinaryType(), False),     # int64 local comp ids
    StructField("dem", BinaryType(), False),      # float64 original
    StructField("fil", BinaryType(), False),      # float64 filled
    StructField("cmp_n", BinaryType(), False),
    StructField("cmp_s", BinaryType(), False),
    StructField("cmp_w", BinaryType(), False),
    StructField("cmp_e", BinaryType(), False),
    StructField("ids", BinaryType(), False),      # int64 per-comp ids
    StructField("szs", BinaryType(), False),      # int64 per-comp sizes
    StructField("tze", BinaryType(), False),      # float64 trigger elev
    StructField("tzg", BinaryType(), False),      # int64 trigger gid
])


def fill_depressions_max_dep(
    tr: TiledRaster, max_dep_size: int, topology: str = TOPO_D8,
) -> TiledRaster:
    from dataclasses import replace

    from .fill import fill_depressions

    meta = tr.meta
    conn = 8 if topology == TOPO_D8 else 4
    slots = range(1, 9) if conn == 8 else (1, 3, 5, 7)
    ntx = meta.ntiles_x
    tw, th = meta.tile_w, meta.tile_h
    W = meta.width
    stride = tw * th + 2

    # the reference never special-cases NoData here — fill on the raw
    # values (NoData = very negative elevations that drain naturally)
    surf = TiledRaster(
        tr.df.withColumn("nodata", F.lit(None).cast("double")),
        replace(meta, nodata=None),
    )
    filled = fill_depressions(surf, topology=topology)

    dem_h = halo_join(tr).select(
        "tile_x", "tile_y", "width", "height", "dtype",
        F.col("data").alias("dem"), F.col("halo").alias("dhalo"),
    )
    fil_h = halo_join(filled).select(
        "tile_x", "tile_y",
        F.col("data").alias("fil"), F.col("halo").alias("fhalo"),
    )
    joined = dem_h.join(fil_h, ["tile_x", "tile_y"])

    def wave1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _MD_SCHEMA.fields}
            for r in pdf.itertuples():
                h, w = r.height, r.width
                dem = unpack(r.dem, h, w, r.dtype).astype(np.float64)
                fil = unpack(r.fil, h, w, "float64")
                demp0, pt, pl = assemble_padded(dem, r.dhalo, r.dtype, 0.0)
                demp = demp0.astype(np.float64)
                filp, _, _ = assemble_padded(fil, r.fhalo, "float64", 0.0)
                dlt = filp > demp
                core = np.s_[pt:pt + h, pl:pl + w]
                comp0 = label_components(dlt[core], conn).astype(np.int64)
                base = (r.tile_y * ntx + r.tile_x) * stride
                comp = np.where(comp0 > 0, comp0 + base, 0)
                ncomp = int(comp0.max())
                sizes = np.bincount(
                    comp0.ravel(), minlength=ncomp + 1)[1:]
                # trigger partials: canonical min (elev, gid) over the
                # non-mask neighbours of each component, halo included
                gy0 = r.tile_y * th - pt
                gx0 = r.tile_x * tw - pl
                ph, pw = demp.shape
                t_e = np.full(ncomp, np.inf)
                t_g = np.full(ncomp, np.iinfo(np.int64).max, np.int64)
                coredlt = np.zeros(demp.shape, bool)
                coredlt[core] = dlt[core]
                for n in slots:
                    dx, dy = int(D8X[n]), int(D8Y[n])
                    ys_d = slice(max(0, -dy), ph - max(0, dy))
                    xs_d = slice(max(0, -dx), pw - max(0, dx))
                    ys_s = slice(max(0, dy), ph + min(0, dy))
                    xs_s = slice(max(0, dx), pw + min(0, dx))
                    m = np.zeros(demp.shape, bool)
                    m[ys_d, xs_d] = (coredlt[ys_d, xs_d]
                                     & ~dlt[ys_s, xs_s])
                    if not m.any():
                        continue
                    ys, xs = np.nonzero(m)
                    labs = comp0[ys - pt, xs - pl] - 1
                    ne = demp[ys + dy, xs + dx]
                    ng = (ys + dy + gy0) * W + (xs + dx + gx0)
                    order = np.lexsort((ng, ne, labs))
                    labs, ne, ng = labs[order], ne[order], ng[order]
                    first = np.flatnonzero(
                        np.r_[True, labs[1:] != labs[:-1]])
                    lf, ef, gf = labs[first], ne[first], ng[first]
                    better = (ef < t_e[lf]) | (
                        (ef == t_e[lf]) & (gf < t_g[lf]))
                    t_e[lf[better]] = ef[better]
                    t_g[lf[better]] = gf[better]
                out["tile_x"].append(r.tile_x)
                out["tile_y"].append(r.tile_y)
                out["width"].append(w)
                out["height"].append(h)
                out["comp"].append(pack(comp))
                out["dem"].append(pack(dem))
                out["fil"].append(pack(fil))
                out["cmp_n"].append(pack(comp[0, :]))
                out["cmp_s"].append(pack(comp[-1, :]))
                out["cmp_w"].append(pack(
                    np.ascontiguousarray(comp[:, 0])))
                out["cmp_e"].append(pack(
                    np.ascontiguousarray(comp[:, -1])))
                out["ids"].append(pack(
                    np.arange(1, ncomp + 1, dtype=np.int64) + base))
                out["szs"].append(pack(sizes.astype(np.int64)))
                out["tze"].append(pack(t_e))
                out["tzg"].append(pack(t_g))
            yield pd.DataFrame(out)

    st = joined.mapInPandas(wave1, _MD_SCHEMA).persist()

    def solve(rows):
        """Union components across seams; per root, total size and the
        canonical trigger; group roots by trigger cell; per tile, the
        sorted component ids whose episode fits under max_dep_size."""
        from .regions import seam_union_find

        find, _uf = seam_union_find(rows, topology)

        tot: dict[int, int] = {}
        trig: dict[int, tuple] = {}
        owners: dict[int, list] = {}
        for r in rows:
            ids = np.frombuffer(r.ids, dtype=np.int64)
            szs = np.frombuffer(r.szs, dtype=np.int64)
            tze = np.frombuffer(r.tze, dtype=np.float64)
            tzg = np.frombuffer(r.tzg, dtype=np.int64)
            for i, s, e, g in zip(ids.tolist(), szs.tolist(),
                                  tze.tolist(), tzg.tolist()):
                rt = find(i)
                tot[rt] = tot.get(rt, 0) + s
                key = (e, g)
                if rt not in trig or key < trig[rt]:
                    trig[rt] = key
                owners.setdefault(rt, []).append(i)

        groups: dict[int, list] = {}
        for rt, (e, g) in trig.items():
            groups.setdefault(g, []).append(rt)

        fill_roots = set()
        for g, roots in groups.items():
            if sum(tot[rt] for rt in roots) <= max_dep_size:
                fill_roots.update(roots)

        per_tile: dict[tuple, list] = {}
        for rt in fill_roots:
            for i in owners[rt]:
                owner = i // stride
                per_tile.setdefault(
                    (owner % ntx, owner // ntx), []).append(i)
        return [(tx, ty, sorted(ids)) for (tx, ty), ids
                in per_tile.items()]

    sel_schema = StructType([
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("sel", ArrayType(LongType()), False),
    ])
    joined, sel_of = solve_per_tile(
        st, ["tile_x", "tile_y", "cmp_n", "cmp_s", "cmp_w", "cmp_e",
             "ids", "szs", "tze", "tzg"],
        solve, sel_schema, perimeter_rows(meta))

    nodata = meta.nodata

    def wave2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                a = unpack(r.dem, h, w, "float64").copy()
                comp = unpack(r.comp, h, w, "int64")
                picked = sel_of(r)
                sel = np.array(list(picked[0]) if picked else [],
                               dtype=np.int64)
                m = comp > 0
                if m.any() and sel.size:
                    pos = np.searchsorted(sel, comp[m])
                    hit = sel[np.clip(pos, 0, sel.size - 1)] == comp[m]
                    mm = np.zeros_like(m)
                    mm[m] = hit
                    fil = unpack(r.fil, h, w, "float64")
                    a[mm] = fil[mm]
                out.append((r.tile_x, r.tile_y, a, nodata))
            yield tile_frame(out)

    out_df = joined.mapInPandas(wave2, TILE_SCHEMA)
    new_meta = replace(meta, dtype="float64").with_history(
        f"fill_depressions_max_dep({max_dep_size})")
    return TiledRaster(out_df, new_meta)
