"""Distributed Fill-Spill-Merge (Barnes, Callaghan, Wickert 2020).

Spark-first re-derivation of
``include/richdem/depressions/fill_spill_merge.hpp:142-194`` on top of
the distributed depression hierarchy (ops/dephier.py):

1. **MoveWaterIntoPits** (:225-365): surface water is routed along the
   hierarchy's flowdirs with the EXISTING distributed weighted D8
   accumulation (ops/accum.py, O(perimeter) two-round); water resting at
   NO_FLOW cells is summed per leaf with a map-side partial aggregation
   (ocean water vanishes).
2. **OverflowInto** (:503-605): tree-sized, runs on the driver (the
   hierarchy is O(#leaves), driver-resident by design).
3. **Backfill / DetermineWaterLevel** (:653-1063): each flooded subtree
   needs the level L with  sum_{cells below L}(L - elev) = volume.
   Distributed exact solve: per-flood-node (count, sum, min, max)
   partials -> bucket histogram partials -> the crossing bucket's cell
   values (a ~1/4096 sliver) -> exact driver finish; the water-table
   raster is then a per-cell ``max(L - elev, 0)`` map.

Every per-cell step is a mapInPandas over tiles; only O(#leaves + #flood
nodes x buckets) rows reach the driver.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..constants import NO_FLOW, TOPO_D8
from ..kernels.dephier import NO_VALUE
from ..kernels.fsm import overflow
from ..tiles import TILE_SCHEMA, RasterMeta, TiledRaster, tile_frame, unpack
from .accum import flow_accumulation_d8
from .dephier import (
    build_outlet_chains,
    climb_outlet_chains,
    depression_hierarchy,
)

_N_BUCKETS = 4096
# crossing buckets holding more values than this are re-bucketed instead
# of collected (tests patch this down to force deep refinement chains)
COLLECT_CAP = 500_000


def _leaf_water(acc: TiledRaster, labels: TiledRaster,
                flowdirs: TiledRaster, n_deps: int) -> np.ndarray:
    """Per-leaf resting water: sum of routed accumulation at NO_FLOW
    land cells (MoveWaterIntoPits, fill_spill_merge.hpp:225-365)."""
    lj = labels.df.select(
        "tile_x", "tile_y", F.col("data").alias("labdata")
    )
    fj = flowdirs.df.select(
        "tile_x", "tile_y", F.col("data").alias("dirdata")
    )
    joined = acc.df.join(lj, ["tile_x", "tile_y"]).join(
        fj, ["tile_x", "tile_y"]
    )
    schema = StructType([
        StructField("leaf", LongType(), False),
        StructField("wv", DoubleType(), False),
    ])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            leaves, wvs = [], []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                a = unpack(r.data, h, w, "float64").ravel()
                lab = unpack(r.labdata, h, w, "int64").ravel()
                dirs = unpack(r.dirdata, h, w, "uint8").ravel()
                m = (dirs == NO_FLOW) & (lab > 0) & (a > 0)
                if not m.any():
                    continue
                ls = lab[m]
                ws = a[m]
                order = np.argsort(ls, kind="stable")
                ls, ws = ls[order], ws[order]
                starts = np.flatnonzero(np.r_[True, ls[1:] != ls[:-1]])
                leaves.append(ls[starts])
                wvs.append(np.add.reduceat(ws, starts))
            if leaves:
                yield pd.DataFrame({
                    "leaf": np.concatenate(leaves),
                    "wv": np.concatenate(wvs),
                })

    rows = (
        joined.mapInPandas(run, schema)
        .groupBy("leaf").agg(F.sum("wv").alias("wv")).collect()
    )
    water_vol = np.zeros(n_deps)
    for r in rows:
        water_vol[int(r.leaf)] = float(r.wv)
    return water_vol


def _flood_nodes(deps, water: np.ndarray) -> np.ndarray:
    """flood_of[node] = the highest watered ancestor whose subtree gets
    flooded to one level (the recursion of fill_spill_merge.hpp:653-750);
    -1 = dry."""
    children: dict[int, list[int]] = {}
    roots = []
    for d in range(1, len(deps)):
        dep = deps[d]
        if dep.ocean_parent or dep.parent == NO_VALUE:
            roots.append(d)
        else:
            children.setdefault(dep.parent, []).append(d)
    flood_of = np.full(len(deps), -1, dtype=np.int64)

    def mark(d, fn):
        stack = [d]
        while stack:
            x = stack.pop()
            flood_of[x] = fn
            stack.extend(children.get(x, ()))

    def walk(d):
        stack = [d]
        while stack:
            x = stack.pop()
            if water[x] > 1e-15:
                mark(x, x)
            else:
                stack.extend(children.get(x, ()))

    for r in roots:
        walk(r)
    return flood_of


def fill_spill_merge(
    tr: TiledRaster, wtd: TiledRaster, topology: str = TOPO_D8,
) -> TiledRaster:
    """Distributed FillSpillMerge.  ``wtd`` holds surface-water depths
    co-tiled with ``tr``; returns the post-routing standing water."""
    meta = tr.meta
    spark = tr.df.sparkSession

    deps, labels, flowdirs = depression_hierarchy(tr, topology)
    labels_p = TiledRaster(labels.df.persist(), labels.meta)

    acc = flow_accumulation_d8(flowdirs, weights=wtd)
    water_vol = _leaf_water(acc, labels_p, flowdirs, len(deps))

    water = overflow(deps, water_vol)
    flood_of = _flood_nodes(deps, water)
    cd, cp = build_outlet_chains(deps)
    bc = spark.sparkContext.broadcast((cd, cp, flood_of))

    # subtree water totals per flood node
    totals: dict[int, float] = {}
    for d in range(1, len(deps)):
        fn = int(flood_of[d])
        if fn >= 0 and water[d] > 0:
            totals[fn] = totals.get(fn, 0.0) + float(water[d])
    fns = sorted(k for k, v in totals.items() if v > 1e-15)

    lj = labels_p.df.select("tile_x", "tile_y",
                            F.col("data").alias("labdata"))
    cells = tr.df.join(lj, ["tile_x", "tile_y"]).persist()

    def fn_of(lab_flat: np.ndarray, elev_flat: np.ndarray,
              cdv, cpv, fov) -> np.ndarray:
        """flood node per cell (-1 dry/ocean)."""
        out = np.full(lab_flat.size, -1, dtype=np.int64)
        m = lab_flat > 0
        if not m.any():
            return out
        leaf = lab_flat[m]
        e = elev_flat[m]
        node = climb_outlet_chains(cdv, cpv, leaf, e)
        out[m] = np.where(node > 0, fov[np.maximum(node, 0)], -1)
        return out

    # ---- pass 1: (cnt, sum, min, max) per flood node --------------------
    s1 = StructType([
        StructField("fn", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("se", DoubleType(), False),
        StructField("mn", DoubleType(), False),
        StructField("mx", DoubleType(), False),
    ])

    def pass1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cdv, cpv, fov = bc.value
        for pdf in it:
            rows = {"fn": [], "cnt": [], "se": [], "mn": [], "mx": []}
            for r in pdf.itertuples():
                h, w = r.height, r.width
                lab = unpack(r.labdata, h, w, "int64").ravel()
                elev = unpack(r.data, h, w, r.dtype).astype(
                    np.float64).ravel()
                fn = fn_of(lab, elev, cdv, cpv, fov)
                m = fn >= 0
                if not m.any():
                    continue
                f = fn[m]
                e = elev[m]
                order = np.argsort(f, kind="stable")
                f, e = f[order], e[order]
                starts = np.flatnonzero(np.r_[True, f[1:] != f[:-1]])
                rows["fn"].extend(f[starts].tolist())
                rows["cnt"].extend(
                    np.diff(np.r_[starts, len(f)]).tolist())
                rows["se"].extend(np.add.reduceat(e, starts).tolist())
                rows["mn"].extend(
                    np.minimum.reduceat(e, starts).tolist())
                rows["mx"].extend(
                    np.maximum.reduceat(e, starts).tolist())
            if rows["fn"]:
                yield pd.DataFrame(rows)

    stats = {}
    for r in (cells.mapInPandas(pass1, s1).groupBy("fn").agg(
            F.sum("cnt").alias("cnt"), F.sum("se").alias("se"),
            F.min("mn").alias("mn"), F.max("mx").alias("mx")).collect()):
        stats[int(r.fn)] = (int(r.cnt), float(r.se), float(r.mn),
                            float(r.mx))

    # ---- pass 2: bucket histograms --------------------------------------
    rng_lo = {f: stats[f][2] for f in fns if f in stats}
    rng_w = {
        f: max((stats[f][3] - stats[f][2]) / _N_BUCKETS, 0.0)
        for f in fns if f in stats
    }
    bc2 = spark.sparkContext.broadcast((rng_lo, rng_w))
    s2 = StructType([
        StructField("fn", LongType(), False),
        StructField("bkt", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("se", DoubleType(), False),
    ])

    def bucket_of(f, e, lo, wdt):
        if wdt <= 0:
            return np.zeros(e.size, dtype=np.int64)
        return np.clip(((e - lo) / wdt).astype(np.int64), 0,
                       _N_BUCKETS - 1)

    def make_pass2(filters_bc):
        def pass2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cdv, cpv, fov = bc.value
            filt = filters_bc.value  # {fn: [(lo, wdt, bkt or None)]}
            for pdf in it:
                rows = {"fn": [], "bkt": [], "cnt": [], "se": []}
                for r in pdf.itertuples():
                    h, w = r.height, r.width
                    lab = unpack(r.labdata, h, w, "int64").ravel()
                    elev = unpack(r.data, h, w, r.dtype).astype(
                        np.float64).ravel()
                    fn = fn_of(lab, elev, cdv, cpv, fov)
                    m = fn >= 0
                    if not m.any():
                        continue
                    f = fn[m]
                    e = elev[m]
                    for ff in np.unique(f).tolist():
                        chain = filt.get(ff)
                        if chain is None:
                            continue
                        sel = f == ff
                        ev = e[sel]
                        # earlier levels narrow the scope exactly by
                        # their crossing bucket (clip semantics kept)
                        for lo_c, w_c, b_c in chain[:-1]:
                            ev = ev[bucket_of(ff, ev, lo_c, w_c) == b_c]
                        lo_c, w_c, _ = chain[-1]
                        if ev.size == 0:
                            continue
                        bkt = bucket_of(ff, ev, lo_c, w_c)
                        order = np.argsort(bkt, kind="stable")
                        k, e2 = bkt[order], ev[order]
                        starts = np.flatnonzero(
                            np.r_[True, k[1:] != k[:-1]])
                        rows["fn"].extend([ff] * len(starts))
                        rows["bkt"].extend(k[starts].tolist())
                        rows["cnt"].extend(
                            np.diff(np.r_[starts, len(k)]).tolist())
                        rows["se"].extend(
                            np.add.reduceat(e2, starts).tolist())
                if rows["fn"]:
                    yield pd.DataFrame(rows)

        return pass2

    # ---- driver: locate the crossing bucket per flood node, refining
    # the histogram within the crossing bucket while it holds more cells
    # than the collect cap (unknown-depth floods stay O(log) passes) ----
    crossing: dict[int, list] = {}   # fn -> filter chain incl. crossing
    below: dict[int, tuple] = {}     # (cnt, sum) strictly below
    levels: dict[int, float] = {}
    pending: dict[int, list] = {}
    for f in fns:
        if f not in stats:
            continue
        lo, wdt = rng_lo[f], rng_w[f]
        if wdt <= 0:
            # all flooded cells share one elevation: closed form
            levels[f] = lo + totals[f] / stats[f][0]
            continue
        pending[f] = [(lo, wdt, None)]
        below[f] = (0, 0.0)

    depth = 0
    while pending and depth < 6:
        depth += 1
        filters_bc = spark.sparkContext.broadcast(dict(pending))
        hist: dict[int, dict[int, tuple]] = {}
        for r in (cells.mapInPandas(make_pass2(filters_bc), s2)
                  .groupBy("fn", "bkt")
                  .agg(F.sum("cnt").alias("cnt"), F.sum("se").alias("se"))
                  .collect()):
            hist.setdefault(int(r.fn), {})[int(r.bkt)] = (
                int(r.cnt), float(r.se))
        nxt_pending: dict[int, list] = {}
        for f, chain in pending.items():
            total = totals[f]
            lo, wdt, _ = chain[-1]
            cnt_b, sum_b = below[f]
            hs = hist.get(f, {})
            hit = None
            for b in range(_N_BUCKETS):
                edge_hi = lo + (b + 1) * wdt
                c, s = hs.get(b, (0, 0.0))
                v_hi = edge_hi * (cnt_b + c) - (sum_b + s)
                if v_hi >= total:
                    hit = (b, c)
                    break
                cnt_b += c
                sum_b += s
            below[f] = (cnt_b, sum_b)
            if hit is None:
                # water exceeds the top edge: level above all cells
                cnt_all, sum_all = stats[f][0], stats[f][1]
                levels[f] = (sum_all + total) / cnt_all
                continue
            b, c = hit
            done_chain = chain[:-1] + [(lo, wdt, b)]
            sub_w = wdt / _N_BUCKETS
            if c > COLLECT_CAP and sub_w > 0:
                nxt_pending[f] = done_chain + [(lo + b * wdt, sub_w, None)]
            else:
                crossing[f] = done_chain
        pending = nxt_pending
    for f, chain in pending.items():
        # depth cap reached: accept collecting the last resolved bucket
        crossing[f] = chain[:-1]

    # ---- pass 3: exact values within each crossing-bucket chain ---------
    bc3 = spark.sparkContext.broadcast(dict(crossing))
    s3 = StructType([
        StructField("fn", LongType(), False),
        StructField("e", DoubleType(), False),
    ])

    def pass3(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cdv, cpv, fov = bc.value
        cross = bc3.value
        for pdf in it:
            fns_o, es_o = [], []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                lab = unpack(r.labdata, h, w, "int64").ravel()
                elev = unpack(r.data, h, w, r.dtype).astype(
                    np.float64).ravel()
                fn = fn_of(lab, elev, cdv, cpv, fov)
                m = fn >= 0
                if not m.any():
                    continue
                f = fn[m]
                e = elev[m]
                for ff in np.unique(f).tolist():
                    chain = cross.get(ff)
                    if not chain:
                        continue
                    vals = e[f == ff]
                    for lo_c, w_c, b_c in chain:
                        vals = vals[
                            bucket_of(ff, vals, lo_c, w_c) == b_c]
                    if vals.size:
                        fns_o.append(np.full(vals.size, ff,
                                             dtype=np.int64))
                        es_o.append(vals)
            if fns_o:
                yield pd.DataFrame({
                    "fn": np.concatenate(fns_o),
                    "e": np.concatenate(es_o),
                })

    bucket_vals: dict[int, list] = {f: [] for f in crossing}
    for r in cells.mapInPandas(pass3, s3).collect():
        bucket_vals[int(r.fn)].append(float(r.e))

    # exact level per flood node (DetermineWaterLevel,
    # fill_spill_merge.hpp:956-1063)
    for f in fns:
        if f not in stats or f in levels or f not in crossing:
            continue
        total = totals[f]
        cnt_b, sum_b = below[f]
        vals = np.sort(np.array(bucket_vals.get(f, [])))
        cnts = cnt_b + np.arange(1, vals.size + 1)
        sums = sum_b + np.cumsum(vals)
        L = None
        # try levels submerging cnt_b + k cells (k over the bucket)
        cand = (sums + total) / cnts
        nxt = np.concatenate([vals[1:], [np.inf]])
        ok = (cand <= nxt) & (cand >= vals)
        if cnt_b > 0:
            # level may land below the bucket's first value
            l0 = (sum_b + total) / cnt_b
            if vals.size == 0 or l0 <= vals[0]:
                L = l0
        if L is None and ok.any():
            k = int(np.argmax(ok))
            L = float(cand[k])
        if L is None:
            # submerge everything seen
            cnt_all, sum_all = stats[f][0], stats[f][1]
            L = (sum_all + total) / cnt_all
        levels[f] = L

    # ---- pass 4: the water-table raster ---------------------------------
    lk = np.array(sorted(levels), dtype=np.int64)
    lv = np.array([levels[k] for k in lk.tolist()])
    bc4 = spark.sparkContext.broadcast((lk, lv))

    def pass4(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cdv, cpv, fov = bc.value
        klk, klv = bc4.value
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                h, w = r.height, r.width
                lab = unpack(r.labdata, h, w, "int64").ravel()
                elev = unpack(r.data, h, w, r.dtype).astype(
                    np.float64).ravel()
                fn = fn_of(lab, elev, cdv, cpv, fov)
                out = np.zeros(h * w)
                m = fn >= 0
                if m.any() and len(klk):
                    pos = np.searchsorted(klk, fn[m])
                    posc = np.clip(pos, 0, len(klk) - 1)
                    hit = klk[posc] == fn[m]
                    L = np.where(hit, klv[posc], -np.inf)
                    out[m] = np.maximum(L - elev[m], 0.0)
                rows.append((r.tile_x, r.tile_y, out.reshape(h, w), None))
            yield tile_frame(rows)

    out_df = cells.mapInPandas(pass4, TILE_SCHEMA)
    new_meta = RasterMeta(
        width=meta.width, height=meta.height, tile_w=meta.tile_w,
        tile_h=meta.tile_h, nodata=None, dtype="float64",
        geotransform=meta.geotransform, projection=meta.projection,
        history=meta.history,
    ).with_history("fill_spill_merge")
    return TiledRaster(out_df, new_meta)
