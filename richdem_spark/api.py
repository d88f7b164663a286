"""Public API mirroring pyRichDEM's surface
(``/root/reference/wrappers/pyrichdem/richdem/__init__.py``) over tile
DataFrames.  Every function is ``TiledRaster -> TiledRaster`` (immutable —
the reference's ``in_place`` mutation becomes a new DataFrame + a lineage
entry, SURVEY.md §7.3)."""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf type hints resolve here

from .constants import FLOWDIR_NO_DATA, NO_FLOW, TOPO_D8
from .kernels import terrain as _terrain
from .kernels.d8 import d8_flow_directions as _d8_dirs_kernel
from .ops.accum import flow_accumulation_d8
from .ops.fill import fill_depressions as _fill
from .ops.focal import apply_focal, elementwise
from .tiles import TiledRaster

# ---------------------------------------------------------------------------
# depression handling (richdem.FillDepressions, __init__.py:381-422)
# ---------------------------------------------------------------------------


def FillDepressions(
    tr: TiledRaster, epsilon: bool = False, topology: str = TOPO_D8,
    metrics=None,
) -> TiledRaster:
    """Distributed Priority-Flood fill (Barnes 2016 two-round).

    ``epsilon=True`` guarantees every cell drains.  Single-tile rasters
    use the reference's PriorityFloodEpsilon semantics exactly
    (Barnes2014.hpp:335-420); multi-tile rasters apply plain fill + the
    distributed flat resolution's nextafter gradients
    (flat_resolution.hpp:545-582) — the reference's own principled
    alternative, exact across tile seams.

    The multi-tile epsilon result is returned MATERIALIZED AND
    PERSISTED (its intermediates are released in exchange); callers
    that are done with it should ``.unpersist()`` it."""
    m = tr.meta
    multi = m.ntiles_x > 1 or m.ntiles_y > 1
    if not epsilon or not multi:
        return _fill(tr, topology=topology, epsilon=epsilon,
                     metrics=metrics)
    # multi-tile epsilon (either topology): plain fill + the distributed
    # flat resolution's nextafter gradients on the matching adjacency —
    # the reference's own principled alternative, exact across seams
    filled = _fill(tr, topology=topology, epsilon=False, metrics=metrics)
    # the filled surface and its dirs feed three consumers (dirs, the
    # flat-resolution phase-1 halo, the final alter join) — without a
    # persist each downstream action re-runs the fill's round 2
    filled.df.persist()
    from .ops.flats import (
        alter_dem_distributed,
        resolve_flats_distributed,
    )

    if topology == TOPO_D8:
        dirs = FlowDirectionsD8(filled)
    else:
        from .kernels.d8 import d4_flow_directions as _d4k

        dirs = apply_focal(
            filled, _d4k, out_dtype="uint8",
            out_nodata=float(FLOWDIR_NO_DATA),
            kernel_kwargs={"nodata": filled.meta.nodata},
            op_name="d4_flow_directions",
        )
    dirs.df.persist()
    try:
        mask, labels = resolve_flats_distributed(
            filled, dirs, topology=topology)
        out = alter_dem_distributed(filled, mask, labels)
        # materialize while the inputs are still cached, then release
        # them — repeated FillDepressions calls in one session otherwise
        # accumulate orphaned cached blocks in executor storage
        out.df.persist()
        out.df.count()
        return out
    finally:
        filled.df.unpersist()
        dirs.df.unpersist()


# ---------------------------------------------------------------------------
# flow directions / flow accumulation (__init__.py:490-596)
# ---------------------------------------------------------------------------


def FlowDirectionsD8(tr: TiledRaster) -> TiledRaster:
    """D8 steepest-descent directions (flowmet/d8_flowdirs.hpp:96-123)."""
    return apply_focal(
        tr,
        _d8_dirs_kernel,
        out_dtype="uint8",
        out_nodata=float(FLOWDIR_NO_DATA),
        kernel_kwargs={"nodata": tr.meta.nodata},
        op_name="d8_flow_directions",
    )


def FlowDirectionsDinf(tr: TiledRaster) -> TiledRaster:
    """Tarboton 1997 D-infinity angles
    (flowmet/dinf_flowdirs.hpp:45-152)."""
    from .kernels.flowmet import dinf_flow_directions as _dinf

    return apply_focal(
        tr, _dinf, out_dtype="float64", out_nodata=-1.0,
        kernel_kwargs={"nodata": tr.meta.nodata},
        op_name="dinf_flow_directions",
    )


def ResolveFlatsDinf(tr: TiledRaster) -> TiledRaster:
    """resolve_flats_barnes_dinf (flats/flat_resolution_dinf.hpp:100-113):
    D-infinity angles, Barnes flat resolution for the gradient mask, then
    masked Tarboton facets recomputed inside each flat.  Fully
    distributed (halo focal passes + the distributed flats machinery);
    cells that remain unresolvable keep the dinf NO_FLOW marker (-1)."""
    from .kernels.flowmet import dinf_flow_directions as _dinf
    from .ops.flats import (
        dinf_flow_flats_distributed,
        resolve_flats_distributed,
    )
    from .ops.focal import combine_tiles

    ang = apply_focal(
        tr, _dinf, out_dtype="float64", out_nodata=-1.0,
        kernel_kwargs={"nodata": tr.meta.nodata, "no_flow_value": -1.0},
        op_name="dinf_flow_directions",
    )
    nd = tr.meta.nodata

    def pseudo_fn(a, e):
        # pseudo-D8 raster for the flat finder: 0 = NO_FLOW, 1 = flows,
        # FLOWDIR_NO_DATA where the DEM is NoData
        out = np.where(a == -1.0, NO_FLOW, 1).astype(np.uint8)
        if nd is not None:
            out[e == nd] = FLOWDIR_NO_DATA
        return out

    pseudo = combine_tiles(
        ang, tr, pseudo_fn, out_dtype="uint8",
        out_nodata=float(FLOWDIR_NO_DATA), op_name="dinf_pseudo_dirs",
    )
    mask, labels = resolve_flats_distributed(tr, pseudo)
    return dinf_flow_flats_distributed(ang, mask, labels)


def _sfd_props_to_dirs_kernel(fm_kernel, fm_kwargs):
    """Wrap an SFD flow metric (one receiving neighbour per cell) into a
    dirs-raster kernel usable by the exact two-round accumulation."""
    import numpy as np

    def kern(padded, nodata=None, **coords):
        kw = dict(fm_kwargs)
        if "seed" in kw:  # seeded metrics need global cell coords
            kw.update(coords)
        props = fm_kernel(padded, nodata, **kw)
        dirs = np.argmax(props[..., 1:] > 0, axis=-1).astype(np.uint8) + 1
        dirs[props[..., 0] != 0.0] = NO_FLOW  # NO_FLOW_GEN cells
        dirs[props[..., 0] == -2.0] = FLOWDIR_NO_DATA
        return dirs

    return kern


# method table mirroring pyRichDEM (__init__.py:535-552); SFD methods run
# distributed-exact via the two-round perimeter-graph accumulation; true
# MFD methods are single-tile fused kernels in v1 (distributed iterative
# halo propagation is the planned scale path)
_SFD_METHODS = {"D8", "OCallaghanD8", "Rho8", "FairfieldLeymarieD8",
                "D4", "OCallaghanD4", "Rho4", "FairfieldLeymarieD4"}
_MFD_METHODS = {"Quinn", "Holmgren", "Freeman", "Tarboton", "Dinfinity"}


def FlowProportions(tr: TiledRaster, method: str = "D8", **params):
    """FM_* stage exposed as a dirs raster for SFD methods
    (methods/flow_accumulation.hpp:16-28 FM composition)."""
    from .kernels import flowmet as fmk

    if method in ("D8", "OCallaghanD8"):
        kern = _sfd_props_to_dirs_kernel(fmk.fm_ocallaghan, {})
    elif method in ("D4", "OCallaghanD4"):
        kern = _sfd_props_to_dirs_kernel(
            fmk.fm_ocallaghan, {"topology": "D4"})
    elif method in ("Rho8", "FairfieldLeymarieD8"):
        kern = _sfd_props_to_dirs_kernel(
            fmk.fm_fairfield, {"seed": int(params.get("seed", 0))}
        )
    elif method in ("Rho4", "FairfieldLeymarieD4"):
        kern = _sfd_props_to_dirs_kernel(
            fmk.fm_fairfield,
            {"seed": int(params.get("seed", 0)), "topology": "D4"},
        )
    else:
        raise KeyError(f"SFD method {method!r} unknown")
    return apply_focal(
        tr, kern, out_dtype="uint8", out_nodata=float(FLOWDIR_NO_DATA),
        kernel_kwargs={"nodata": tr.meta.nodata},
        op_name=f"FM_{method}", pass_coords=True,
    )


def FlowAccumulation(
    tr: TiledRaster, method: str = "D8", **params
) -> TiledRaster:
    """elevations -> accumulation (methods/flow_accumulation.hpp:16-28,
    pyRichDEM FlowAccumulation, __init__.py:490-596).

    ``method="D8"`` uses the d8_methods.hpp pipeline (edge cells forced
    outward, d8_flowdirs.hpp:38-55); ``OCallaghanD8``/``Rho8`` use the
    FM_* composition where edge cells have no flow
    (OCallaghan1984.hpp:41-42)."""
    if method == "D8":
        from .ops.accum import flow_accumulation_d8_from_elev

        # dirs pass fused into accumulation round 1 (one halo sweep)
        return flow_accumulation_d8_from_elev(tr)
    if method in _SFD_METHODS:
        dirs = FlowProportions(tr, method, **params)
        return flow_accumulation_d8(dirs)
    if method in _MFD_METHODS:
        m = tr.meta
        if m.ntiles_x == 1 and m.ntiles_y == 1:
            return _mfd_accumulation_single_tile(tr, method, **params)
        from .ops.mfd import flow_accumulation_mfd

        return flow_accumulation_mfd(
            tr, method, exponent=params.get("exponent"),
            metrics=params.get("metrics"),
        )
    raise KeyError(
        f"method {method!r}; available {sorted(_SFD_METHODS | _MFD_METHODS)}"
    )


def _mfd_accumulation_single_tile(tr: TiledRaster, method: str, **params):
    """Fused FM_* + generic accumulation for multi-flow metrics on a
    single-tile raster (the multi-tile path is ops/mfd.py; the caller
    dispatches on tile count)."""
    from .kernels import flowmet as fmk

    fm = {
        "Quinn": fmk.fm_quinn,
        "Holmgren": lambda e, nd: fmk.fm_holmgren(
            e, nd, x=float(params.get("exponent", 1.0))),
        "Freeman": lambda e, nd: fmk.fm_freeman(
            e, nd, p=float(params.get("exponent", 1.1))),
        "Tarboton": fmk.fm_tarboton,
        "Dinfinity": fmk.fm_tarboton,
    }[method]

    def kern(grid, nodata=None):
        props = fm(grid, nodata)
        return fmk.prop_flow_accum(props)

    return apply_focal(
        tr, kern, out_dtype="float64", out_nodata=-1.0,
        kernel_kwargs={"nodata": tr.meta.nodata},
        op_name=f"FA_{method}",
    )


def FlowAccumulationFromDirs(
    dirs: TiledRaster, weights: TiledRaster | None = None
) -> TiledRaster:
    """accumulation directly from a D8 flowdir raster
    (methods/d8_methods.hpp:47-139); optional per-cell weights raster
    (pyRichDEM weights argument, __init__.py:554-566)."""
    return flow_accumulation_d8(dirs, weights=weights)


def StrahlerOrder(
    dirs: TiledRaster, metrics: dict | None = None
) -> TiledRaster:
    """Strahler stream order from a D8 flowdir raster (int32, NoData ->
    -1).  The reference ships only the operator surface — the
    implementation is commented out (methods/strahler.hpp:5-46) — so
    this is a clean re-derivation of Strahler (1957): sources are
    order 1; a confluence where >=2 inflows share the maximum order m
    becomes m+1, else m.  Distributed via monotone seam rounds
    (ops/strahler.py); ``metrics`` receives rounds + changed-tile
    telemetry."""
    from .ops.strahler import strahler_order_tiled

    return strahler_order_tiled(dirs, metrics=metrics)


# ---------------------------------------------------------------------------
# terrain attributes (richdem.TerrainAttribute, __init__.py:700-795)
# ---------------------------------------------------------------------------


def TerrainAttribute(
    tr: TiledRaster, attrib: str, zscale: float = 1.0
) -> TiledRaster:
    if attrib not in _terrain.TERRAIN_ATTRIBS:
        raise KeyError(
            f"attrib {attrib!r}; available {sorted(_terrain.TERRAIN_ATTRIBS)}"
        )
    kern = _terrain.TERRAIN_ATTRIBS[attrib]
    m = tr.meta
    if attrib in ("curvature", "planform_curvature", "profile_curvature"):
        kw = {"nodata": m.nodata, "zscale": zscale, "cell_l": m.cell_length_x}
    else:
        kw = {
            "nodata": m.nodata, "zscale": zscale,
            "cell_lx": m.cell_length_x, "cell_ly": m.cell_length_y,
        }
    return apply_focal(
        tr, kern, out_dtype="float64", out_nodata=-9999.0,
        kernel_kwargs=kw, op_name=f"TA_{attrib}",
    )


def FindFlats(tr: TiledRaster) -> TiledRaster:
    return apply_focal(
        tr, _terrain.find_flats, out_dtype="uint8", out_nodata=3.0,
        kernel_kwargs={"nodata": tr.meta.nodata}, op_name="find_flats",
    )


# ---------------------------------------------------------------------------
# elementwise utilities (§2.2)
# ---------------------------------------------------------------------------


def Replace(tr: TiledRaster, old: float, new: float) -> TiledRaster:
    """Array2D::replace (common/Array2D.hpp:544-548)."""
    return elementwise(
        tr, lambda a: np.where(a == old, new, a), op_name="replace"
    )


def Scale(tr: TiledRaster, factor: float) -> TiledRaster:
    """Array2D::scale (Array2D.hpp:1406-1410) — NoData preserved."""
    nd = tr.meta.nodata

    def f(a):
        out = a * factor
        if nd is not None:
            out = np.where(a == nd, a, out)
        return out

    return elementwise(tr, f, out_dtype="float64", op_name="scale")


def PitMask(tr: TiledRaster) -> TiledRaster:
    """1=in depression, 0=not, 3=NoData (Barnes2014.hpp:593-676) —
    derived as (filled != original) on the distributed fill."""
    filled = _fill(tr)
    nd = tr.meta.nodata
    orig_cells = tr.cells().withColumnRenamed("value", "orig")
    fill_cells = filled.cells().withColumnRenamed("value", "fill")
    from pyspark.sql import functions as F

    joined = orig_cells.join(fill_cells, ["x", "y"])
    out = joined.select(
        "x", "y",
        F.when(F.col("orig") == F.lit(nd), F.lit(3))
        .when(F.col("fill") != F.col("orig"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("value"),
    ) if nd is not None else joined.select(
        "x", "y",
        F.when(F.col("fill") != F.col("orig"), F.lit(1)).otherwise(F.lit(0))
        .cast("int").alias("value"),
    )
    return out  # exploded-cell DataFrame (relational edge)


# ---------------------------------------------------------------------------
# breaching, watersheds, SPI/CTI, aggregations
# ---------------------------------------------------------------------------


def BreachDepressions(
    tr: TiledRaster,
    mode: str = "complete",
    fill: bool = False,
    epsilon: bool = False,
    max_path_len: int = 2**31,
    max_depth: float = float("inf"),
    max_rounds: int | None = None,
    max_cells: int | None = None,
    metrics: dict | None = None,
) -> TiledRaster:
    """Lindsay 2016 breaching (depressions/Lindsay2016.hpp:227-423),
    fully distributed at any raster size (no gather, no size gate).

    ``max_cells`` is accepted for back-compat with the pre-round-3
    gated signature and ignored (deprecation-warned); there is no size
    gate.  ``max_rounds`` caps the seam-crossing walk rounds; by default
    it is derived from the raster geometry (a true upper bound — see
    ops/breach.py), so the cap cannot fire on valid input.

    Tie-channel note (user-facing): carving follows the drainage tree of
    the filled surface, not the reference's heap-insertion-order
    backlinks, so through *exactly tied* ridges a different — equally
    valid, equally deep — breach channel may be carved than upstream
    RichDEM's.  All 7 reference goldens reproduce byte-identically.

    The tiled decomposition (ops/breach.py) replays the global
    Priority-Flood backlink forest per tile using the distributed fill's
    exact spill levels as seam gates, walks each pit's breach path
    across seams as continuation rows, and min-combines the carves —
    see the ops/breach.py module docstring for the exactness argument.
    Tie order is the canonical static (elevation, flat-index); it
    reproduces all 7 reference goldens (the serial stable-insertion
    kernel stays in kernels/breach.py for reference parity)."""
    from .ops.breach import breach_depressions_tiled

    if max_cells is not None:
        import warnings

        warnings.warn(
            "BreachDepressions(max_cells=...) is deprecated and ignored: "
            "breaching is fully distributed with no size gate",
            DeprecationWarning, stacklevel=2,
        )
    return breach_depressions_tiled(
        tr, mode, epsilon, fill, max_path_len, max_depth,
        max_rounds=max_rounds, metrics=metrics,
    )


def WatershedLabels(tr: TiledRaster, epsilon: bool = True) -> TiledRaster:
    """Label cells by their drainage terminal
    (PriorityFloodWatersheds_Barnes2014, Barnes2014.hpp:713-807
    semantics via fill + D8 terminal resolution)."""
    from .ops.watershed import watershed_labels

    filled = _fill(tr, epsilon=epsilon)
    dirs = FlowDirectionsD8(filled)
    return watershed_labels(dirs)


def SPI(accum: TiledRaster, slope_pct: TiledRaster) -> TiledRaster:
    """Stream power index (terrain_attributes.hpp:29-57): join of the
    accumulation and slope rasters on the tile key."""
    from .kernels.terrain import spi as _spi
    from .ops.focal import combine_tiles

    area = accum.meta.cell_area
    return combine_tiles(
        accum, slope_pct,
        lambda a, s: _spi(a, s, cell_area=area),
        out_nodata=-9999.0, op_name="TA_SPI",
    )


def CTI(accum: TiledRaster, slope_pct: TiledRaster) -> TiledRaster:
    """Topographic wetness index (terrain_attributes.hpp:81-109)."""
    from .kernels.terrain import cti as _cti
    from .ops.focal import combine_tiles

    area = accum.meta.cell_area
    return combine_tiles(
        accum, slope_pct,
        lambda a, s: _cti(a, s, cell_area=area),
        out_nodata=-9999.0, op_name="TA_CTI",
    )


def RasterMinMax(tr: TiledRaster) -> tuple:
    """NoData-aware global extrema (Array2D.hpp:516-535)."""
    from .ops.focal import aggregate_tiles

    def tile_fn(arr, nodata):
        a = arr[arr != nodata] if nodata is not None else arr
        if a.size == 0:
            return [None, None]
        return [float(a.min()), float(a.max())]

    def comb(x, y):
        lo = min(v for v in (x[0], y[0]) if v is not None) \
            if (x[0] is not None or y[0] is not None) else None
        hi = max(v for v in (x[1], y[1]) if v is not None) \
            if (x[1] is not None or y[1] is not None) else None
        return [lo, hi]

    return tuple(aggregate_tiles(tr, tile_fn, comb, [None, None]))


def CountVal(tr: TiledRaster, value: float) -> int:
    """Count cells equal to value (Array2D.hpp:559-565)."""
    from .ops.focal import aggregate_tiles

    return int(aggregate_tiles(
        tr,
        lambda a, nd: int((a == value).sum()),
        lambda x, y: x + y,
        0,
    ))


def NumDataCells(tr: TiledRaster) -> int:
    """Non-NoData cell count (Array2D.hpp:917-935)."""
    from .ops.focal import aggregate_tiles

    return int(aggregate_tiles(
        tr,
        lambda a, nd: int((a != nd).sum()) if nd is not None else a.size,
        lambda x, y: x + y,
        0,
    ))


def SurfaceArea(tr: TiledRaster) -> float:
    """Jenness 2004 3D surface area (misc/misc_methods.hpp:39-169),
    exact at tile seams: each tile computes the per-cell triangle sums
    over its halo-padded array and contributes only its core region, so
    seam triangles see the true neighbour heights (global-DEM edges keep
    the reference's centre-substitution).  Per-partition float64
    partials + driver sum."""
    import json as _json

    from pyspark.sql.types import StringType as _S, StructField as _F, \
        StructType as _T

    from .kernels.terrain import dem_surface_area_grid
    from .tiles import assemble_padded, halo_join, unpack

    m = tr.meta
    lx, ly = m.cell_length_x, m.cell_length_y
    nodata = m.nodata
    schema = _T([_F("partial", _S(), False)])

    def run(it):
        acc = 0.0
        for pdf in it:
            for r in pdf.itertuples():
                core = unpack(r.data, r.height, r.width, r.dtype)
                fillv = nodata if nodata is not None else 0.0
                padded, pt, pl = assemble_padded(
                    core, r.halo, r.dtype, fillv)
                g = dem_surface_area_grid(padded, nodata, lx, ly)
                acc += float(
                    g[pt:pt + r.height, pl:pl + r.width].sum())
        yield pd.DataFrame({"partial": [_json.dumps(acc)]})

    total = 0.0
    for row in halo_join(tr).mapInPandas(run, schema).collect():
        total += _json.loads(row.partial)
    return float(total)


def RasterEquals(a: TiledRaster, b: TiledRaster) -> bool:
    """Exact raster equality — the golden-test comparator
    (Array2D.hpp:649-658)."""
    if (a.meta.width, a.meta.height) != (b.meta.width, b.meta.height):
        return False
    from .ops.focal import aggregate_tiles, combine_tiles

    diff = combine_tiles(a, b, lambda x, y: (x != y).astype("float64"),
                         op_name="equals")
    return aggregate_tiles(
        diff, lambda arr, nd: float(arr.sum()), lambda x, y: x + y, 0.0
    ) == 0.0


def RasterCompare(a: TiledRaster, b: TiledRaster) -> dict:
    """rd_compare (apps/rd_compare.cpp:34+): diff statistics."""
    from .ops.focal import aggregate_tiles, combine_tiles

    diff = combine_tiles(a, b, lambda x, y: x - y, op_name="compare")

    def tile_fn(arr, nd):
        return [float(np.abs(arr).max()) if arr.size else 0.0,
                float(arr.sum()), float((arr * arr).sum()), arr.size]

    def comb(x, y):
        return [max(x[0], y[0]), x[1] + y[1], x[2] + y[2], x[3] + y[3]]

    mx, s, ss, n = aggregate_tiles(diff, tile_fn, comb, [0.0, 0.0, 0.0, 0])
    return {
        "max_abs_diff": mx,
        "avg_diff": s / n if n else 0.0,
        "rms_diff": (ss / n) ** 0.5 if n else 0.0,
    }


def ResolveFlats(
    tr: TiledRaster, alter_dem: bool = False
) -> TiledRaster:
    """Barnes 2014a flat resolution (flats/flat_resolution.hpp:447-517),
    fully distributed in both forms.

    ``alter_dem=False`` (default) returns flat-resolved D8 flow
    directions: global flat labelling via seam union-find + cross-tile
    BFS distance relaxation (ops/flats.py).  ``alter_dem=True`` returns
    the nextafter-altered elevations (flat_resolution.hpp:545-582): the
    same distributed mask/labels applied as per-cell nextafter chains —
    the chain count is the mask value, so no cross-seam walking is
    needed once the global mask exists."""
    from .ops.flats import (
        alter_dem_distributed,
        flow_dirs_through_flats,
        resolve_flats_distributed,
    )

    dirs = FlowDirectionsD8(tr)
    mask, labels = resolve_flats_distributed(tr, dirs)
    if not alter_dem:
        return flow_dirs_through_flats(dirs, mask, labels)
    return alter_dem_distributed(tr, mask, labels)


def GetDepressionHierarchy(
    tr: TiledRaster, ocean_labels: TiledRaster | None = None,
):
    """Depression hierarchy (depressions/depression_hierarchy.hpp:243-725;
    pyRichDEM get_depression_hierarchy, __init__.py:815-864).

    Returns (depressions, labels_raster, flowdirs_raster).  Fully
    distributed for both the default ocean (global border + NoData) and
    a custom ``ocean_labels`` raster (cells whose value == OCEAN seed
    the flood) — the mask is threaded through wave A with its own halo
    (ops/dephier.py); communication stays O(perimeter + #leaves)."""
    from .ops.dephier import depression_hierarchy

    return depression_hierarchy(tr, ocean_labels=ocean_labels)


def FillSpillMerge(tr: TiledRaster, wtd: TiledRaster) -> TiledRaster:
    """Route standing surface water (fill_spill_merge.hpp:142-194;
    pyRichDEM fill_spill_merge, __init__.py:866-903).  ``wtd`` holds
    surface-water depths; returns the post-routing standing water.
    Fully distributed (ops/fsm.py): weighted two-round accumulation for
    MoveWaterIntoPits, driver tree overflow, histogram-refined exact
    water levels."""
    from .ops.fsm import fill_spill_merge as _fsm

    return _fsm(tr, wtd)


def DepressionVolumes(tr: TiledRaster, deps, labels: TiledRaster):
    """Spark-side marginal volume aggregation: groupBy(containing
    depression) over the exploded cells with the broadcast hierarchy —
    the distributed twin of CalculateMarginalVolumes
    (depression_hierarchy.hpp:792-868)."""
    from pyspark.sql import functions as F

    import numpy as np

    # Binary-lifting climb tables (O(n log n), not the dense O(n^2)
    # chain matrix): the reference's per-cell walk ("walk up until
    # elevation clears the outlet", depression_hierarchy.hpp:792-868)
    # stops at the FIRST ancestor with prefix-max out_elev >= e, which
    # climb_outlet_chains answers with a vectorized binary descent.
    from .ops.dephier import build_outlet_chains, climb_outlet_chains

    chain_anc, chain_pm = build_outlet_chains(deps)
    spark = tr.df.sparkSession
    b = spark.sparkContext.broadcast((chain_anc, chain_pm))

    cells = tr.cells().withColumnRenamed("value", "elev")
    labs = labels.cells().withColumnRenamed("value", "label")
    joined = cells.join(labs, ["x", "y"])

    from pyspark.sql.types import LongType
    import pandas as pd

    @F.pandas_udf(LongType())
    def containing_dep(label: pd.Series, elev: pd.Series) -> pd.Series:
        cd, pm = b.value
        lab = label.to_numpy().astype(np.int64)
        el = elev.to_numpy()
        return pd.Series(climb_outlet_chains(cd, pm, lab, el))

    return (
        joined.withColumn("dep", containing_dep("label", "elev"))
        .where(F.col("dep") != 0)
        .groupBy("dep")
        .agg(
            F.count(F.lit(1)).alias("cell_count"),
            F.sum("elev").alias("total_elevation"),
        )
    )


# ---------------------------------------------------------------------------
# canvas / orientation / misc (§2.2, §2.10)
# ---------------------------------------------------------------------------


def FlipVert(tr: TiledRaster) -> TiledRaster:
    """Array2D::flipVert (Array2D.hpp:715-724): per-tile np.flip + tile
    re-key; zero data shuffled beyond the key change."""
    return _rekey_flip(tr, vert=True)


def FlipHorz(tr: TiledRaster) -> TiledRaster:
    return _rekey_flip(tr, vert=False)


def _rekey_flip(tr: TiledRaster, vert: bool) -> TiledRaster:
    import pandas as pd
    from .tiles import TILE_SCHEMA, pack, tile_frame, unpack

    m = tr.meta
    nty, ntx = m.ntiles_y, m.ntiles_x
    if (vert and m.height % m.tile_h != 0) or (
        not vert and m.width % m.tile_w != 0
    ):
        # ragged final tiles: flipped content straddles the destination
        # tile grid — split each flipped tile into <=2 pieces keyed by
        # destination tile and reassemble (one shuffle, no driver gather)
        import numpy as np
        from .tiles import PIECE_SCHEMA, assemble_pieces

        H, W, th, tw = m.height, m.width, m.tile_h, m.tile_w

        def pieces(it):
            for pdf in it:
                rows = {k: [] for k in ("tile_x", "tile_y", "py", "px",
                                        "ph", "pw", "data")}
                for r in pdf.itertuples():
                    a = unpack(r.data, r.height, r.width, r.dtype)
                    a = np.flipud(a) if vert else np.fliplr(a)
                    gy0 = (H - r.tile_y * th - r.height) if vert \
                        else r.tile_y * th
                    gx0 = (W - r.tile_x * tw - r.width) if not vert \
                        else r.tile_x * tw
                    for tyd in range(gy0 // th, (gy0 + r.height - 1)
                                     // th + 1):
                        ys = max(gy0, tyd * th)
                        ye = min(gy0 + r.height, (tyd + 1) * th)
                        for txd in range(gx0 // tw, (gx0 + r.width - 1)
                                         // tw + 1):
                            xs = max(gx0, txd * tw)
                            xe = min(gx0 + r.width, (txd + 1) * tw)
                            rows["tile_x"].append(txd)
                            rows["tile_y"].append(tyd)
                            rows["py"].append(ys - tyd * th)
                            rows["px"].append(xs - txd * tw)
                            rows["ph"].append(ye - ys)
                            rows["pw"].append(xe - xs)
                            rows["data"].append(pack(
                                a[ys - gy0 : ye - gy0, xs - gx0 : xe - gx0]
                            ))
                yield pd.DataFrame(rows)

        pdf = tr.df.mapInPandas(pieces, PIECE_SCHEMA)
        nm = m.with_history("flipVert" if vert else "flipHorz")
        fill = m.nodata if m.nodata is not None else 0.0
        out = assemble_pieces(pdf, nm, fill)
        return out

    def run(it):
        import numpy as np

        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                a = unpack(r.data, r.height, r.width, r.dtype)
                a = np.flipud(a) if vert else np.fliplr(a)
                rows.append((r.tile_x if vert else ntx - 1 - r.tile_x,
                             nty - 1 - r.tile_y if vert else r.tile_y,
                             a, r.nodata))
            yield tile_frame(rows)

    out_df = tr.df.mapInPandas(run, TILE_SCHEMA)
    nm = m.with_history("flipVert" if vert else "flipHorz")
    return TiledRaster(out_df, nm)


def Transpose(tr: TiledRaster) -> TiledRaster:
    """Array2D::transpose (Array2D.hpp:726-747): the transposed tile grid
    is the tile grid transposed — a pure per-tile ``.T`` + key swap, zero
    shuffles beyond the key change, fully distributed."""
    from .tiles import TILE_SCHEMA, RasterMeta, TiledRaster, tile_frame, \
        unpack

    m = tr.meta

    def run(it):
        for pdf in it:
            yield tile_frame(
                (r.tile_y, r.tile_x,
                 unpack(r.data, r.height, r.width, r.dtype).T, r.nodata)
                for r in pdf.itertuples())

    new_meta = RasterMeta(
        width=m.height, height=m.width, tile_w=m.tile_h, tile_h=m.tile_w,
        nodata=m.nodata, dtype=m.dtype, geotransform=m.geotransform,
        projection=m.projection, history=m.history,
    ).with_history("transpose")
    return TiledRaster(tr.df.mapInPandas(run, TILE_SCHEMA), new_meta)


def Expand(tr: TiledRaster, new_w: int, new_h: int,
           val: float) -> TiledRaster:
    """Array2D::expand (Array2D.hpp:891-914): grow canvas, data kept
    top-left.  Distributed: existing ragged boundary tiles are padded
    with ``val`` in place; tiles of the grown region are *generated* on
    executors (spark.range anti-joined against existing keys) — the
    driver never sees a data blob."""
    import numpy as np
    from pyspark.sql import functions as F
    from .tiles import TILE_SCHEMA, RasterMeta, TiledRaster, tile_frame, \
        unpack

    m = tr.meta
    if new_w < m.width or new_h < m.height:
        raise ValueError("expand cannot shrink")
    spark = tr.df.sparkSession
    tw, th = m.tile_w, m.tile_h
    dt = m.dtype

    def pad(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                a = unpack(r.data, r.height, r.width, r.dtype)
                tw_t = min(tw, new_w - r.tile_x * tw)
                th_t = min(th, new_h - r.tile_y * th)
                if (r.height, r.width) != (th_t, tw_t):
                    out = np.full((th_t, tw_t), val, dtype=a.dtype)
                    out[: r.height, : r.width] = a
                    a = out
                rows.append((r.tile_x, r.tile_y, a, r.nodata))
            yield tile_frame(rows)

    padded = tr.df.mapInPandas(pad, TILE_SCHEMA)

    ntx2 = (new_w + tw - 1) // tw
    nty2 = (new_h + th - 1) // th
    keys = spark.range(ntx2 * nty2).select(
        (F.col("id") % ntx2).cast("int").alias("tile_x"),
        (F.col("id") / ntx2).cast("int").alias("tile_y"),
    )
    missing = keys.join(
        tr.df.select("tile_x", "tile_y"), ["tile_x", "tile_y"], "left_anti"
    )

    def gen(it):
        for pdf in it:
            yield tile_frame(
                (r.tile_x, r.tile_y,
                 np.full((min(th, new_h - r.tile_y * th),
                          min(tw, new_w - r.tile_x * tw)),
                         val, dtype=np.dtype(dt)),
                 m.nodata)
                for r in pdf.itertuples())

    out_df = padded.unionByName(missing.mapInPandas(gen, TILE_SCHEMA))
    new_meta = RasterMeta(
        width=new_w, height=new_h, tile_w=tw, tile_h=th,
        nodata=m.nodata, dtype=dt, geotransform=m.geotransform,
        projection=m.projection, history=m.history,
    ).with_history(f"expand({new_w},{new_h})")
    return TiledRaster(out_df, new_meta)


def SetEdges(tr: TiledRaster, val: float) -> TiledRaster:
    """Array2D::setEdges (Array2D.hpp:1039-1065): set the global raster
    border; needs only the per-tile edge bitmask (zero shuffles)."""
    from .ops.focal import elementwise  # noqa: F401 (pattern reference)
    from .tiles import TILE_SCHEMA, tile_frame, unpack

    m = tr.meta
    ntx, nty = m.ntiles_x, m.ntiles_y

    def run(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                a = unpack(r.data, r.height, r.width, r.dtype).copy()
                if r.tile_y == 0:
                    a[0, :] = val
                if r.tile_y == nty - 1:
                    a[-1, :] = val
                if r.tile_x == 0:
                    a[:, 0] = val
                if r.tile_x == ntx - 1:
                    a[:, -1] = val
                rows.append((r.tile_x, r.tile_y, a, r.nodata))
            yield tile_frame(rows)

    return TiledRaster(tr.df.mapInPandas(run, TILE_SCHEMA),
                       m.with_history(f"setEdges({val})"))


def FillDepressionsMaxDep(
    tr: TiledRaster, max_dep_size: int,
    max_cells: int | None = None,
) -> TiledRaster:
    """Fill only depression episodes with <= max_dep_size cells
    (PriorityFlood_Barnes2014_max_dep, Barnes2014.hpp:844-931; goldens
    tests/tests.cpp:275-289).  Fully distributed — the global-PQ episode
    dynamics reduce to a closed form over the ordinary fill (delta-mask
    components grouped by their spill trigger cell; exactness argument
    and tie caveat in ops/maxdep.py).  No size gate; ``max_cells`` is
    accepted for back-compat and ignored (deprecation-warned).  The
    serial kernel (kernels/fill.priority_flood_max_dep) remains as the
    reference-parity twin."""
    from .ops.maxdep import fill_depressions_max_dep

    if max_cells is not None:
        import warnings

        warnings.warn(
            "FillDepressionsMaxDep(max_cells=...) is deprecated and "
            "ignored: the max_dep fill is fully distributed",
            DeprecationWarning, stacklevel=2,
        )
    return fill_depressions_max_dep(tr, max_dep_size)


def BucketFill(tr: TiledRaster, check_value: float, fill_value: float,
               from_edges: bool = True) -> TiledRaster:
    """Conditional flood fill from the grid edges
    (misc/misc_methods.hpp:258-334).  Fully distributed: per-tile CCL +
    O(perimeter) seam union-find + per-tile rewrite (ops/regions.py)."""
    from .ops.regions import bucket_fill_from_edges

    return bucket_fill_from_edges(tr, check_value, fill_value)


def UpslopeCells(dirs: TiledRaster, x0: int, y0: int,
                 x1: int, y1: int) -> TiledRaster:
    """Cells draining through a line (methods/d8_methods.hpp:167-236).
    Fully distributed: per-tile OR-flag pointer doubling + O(perimeter)
    cross-tile chain resolution (ops/regions.py)."""
    from .ops.regions import upslope_cells

    return upslope_cells(dirs, x0, y0, x1, y1)


def Histogram(tr: TiledRaster) -> dict:
    """rd_hist (apps/rd_hist.cpp): distributed value histogram — per-tile
    partials merged on the driver."""
    from .ops.focal import aggregate_tiles
    from .kernels.misc import value_histogram

    def comb(x, y):
        out = dict(x)
        for k, v in y.items():
            out[k] = out.get(k, 0) + v
        return out

    return aggregate_tiles(
        tr,
        lambda a, nd: {str(k): int(v)
                       for k, v in value_histogram(a, nd).items()},
        comb,
        {},
    )


def ArcGISFlowdirs(dirs: TiledRaster) -> TiledRaster:
    """RichDEM -> ArcGIS flow-direction codes (misc/conversion.hpp)."""
    import numpy as np
    from .constants import D8_ARCGIS
    from .ops.focal import elementwise

    return elementwise(
        dirs,
        lambda a: D8_ARCGIS[np.clip(a.astype(np.int64), 0, 8)],
        out_dtype="uint8",
        op_name="d8_to_arcgis",
    )


def TaudemFlowdirs(dirs: TiledRaster) -> TiledRaster:
    """TauDEM D8 codes -> RichDEM facets
    (apps/rd_taudem_d8_to_richdem_d8.cpp)."""
    from .kernels.d8 import taudem_to_d8
    from .ops.focal import elementwise

    nd = dirs.meta.nodata
    return elementwise(
        dirs,
        lambda a: taudem_to_d8(a, nodata=nd),
        out_dtype="uint8",
        out_nodata=None if nd is None else float(FLOWDIR_NO_DATA),
        op_name="taudem_to_d8",
    )


def LoopCheck(dirs: TiledRaster) -> dict:
    """Verify a D8 flowdir raster is acyclic (apps/rd_loop_check.cpp).

    The reference follows every cell's path for up to ``width`` steps
    and prints the tail of any path that fails to terminate.  Tiled
    equivalent: a per-tile Kahn trim counts the cells of every cycle
    that closes inside one tile, and cycles spanning tiles are
    exactly the unresolvable nodes of the cross-tile perimeter graph
    the tiled accumulation already solves (ops/accum.py:292-296) — so
    the cross-tile stage reuses that machinery, inheriting its
    driver/two-level scale switch.  Returns ``{"acyclic": bool,
    "in_tile_loop_cells": n, "cross_tile_loop_cells": m}``.
    """
    import re

    from .kernels.d8 import d8_loop_residual
    from .ops.focal import aggregate_tiles

    in_tile = aggregate_tiles(
        dirs,
        lambda a, nd: d8_loop_residual(a.astype("uint8")),
        lambda x, y: x + y,
        0,
    )
    cross = 0
    if in_tile == 0 and dirs.meta.ntiles_x * dirs.meta.ntiles_y > 1:
        from .ops.accum import flow_accumulation_d8

        # the perimeter-graph Kahn is the cross-tile cycle detector;
        # a loop surfaces as its "unresolved" error (driver path) or
        # the same message wrapped in a PythonException (two-level)
        try:
            flow_accumulation_d8(dirs).df.count()
        except Exception as e:  # noqa: BLE001 — message-dispatched
            m = re.search(r"flow loop detected: (\d+)", str(e))
            if not m:
                raise
            cross = int(m.group(1))
    return {
        "acyclic": in_tile == 0 and cross == 0,
        "in_tile_loop_cells": int(in_tile),
        "cross_tile_loop_cells": cross,
    }


def Perimeter(tr: TiledRaster, perim_type: str = "CELL_COUNT") -> float:
    """DEM perimeter (misc/misc_methods.hpp:173-240).

    ``CELL_COUNT``: data cells with at least one off-grid neighbour
    (grid-border cells).  ``SQUARE_EDGE``: cardinal cell edges bordering
    off-grid or NoData cells."""
    import numpy as np

    from .ops.focal import aggregate_tiles, apply_focal

    m = tr.meta
    nd = m.nodata
    if perim_type == "CELL_COUNT":
        # distributed partial count: each tile needs only its own edge
        # bitmask — zero halo, zero driver data blobs
        ntx, nty = m.ntiles_x, m.ntiles_y

        def tile_fn(a, nodata, tile_x, tile_y):
            is_data = (a != nodata) if nodata is not None else \
                np.ones_like(a, dtype=bool)
            mask = np.zeros_like(is_data)
            if tile_y == 0:
                mask[0, :] = True
            if tile_y == nty - 1:
                mask[-1, :] = True
            if tile_x == 0:
                mask[:, 0] = True
            if tile_x == ntx - 1:
                mask[:, -1] = True
            return int((mask & is_data).sum())

        return float(aggregate_tiles(
            tr, tile_fn, lambda x, y: x + y, 0, with_coords=True
        ))
    if perim_type != "SQUARE_EDGE":
        raise KeyError(perim_type)

    def kern(padded, nodata=None):
        h, w = padded.shape
        data = (padded != nodata) if nodata is not None else \
            np.ones((h, w), bool)
        edges = np.zeros((h, w), dtype=np.float64)
        # cardinal neighbours; off-grid counts as boundary — the padded
        # array's border IS the global border (unpadded sides)
        for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            nb_data = np.zeros((h, w), bool)
            ys_d = slice(max(0, -dy), h - max(0, dy))
            xs_d = slice(max(0, -dx), w - max(0, dx))
            ys_s = slice(max(0, dy), h + min(0, dy))
            xs_s = slice(max(0, dx), w + min(0, dx))
            nb_data[ys_d, xs_d] = data[ys_s, xs_s]
            edges += (data & ~nb_data)
        edges[~data] = 0
        return edges

    counts = apply_focal(tr, kern, out_dtype="float64",
                         kernel_kwargs={"nodata": nd},
                         op_name="perimeter")
    return float(aggregate_tiles(
        counts, lambda a, _nd: float(a.sum()), lambda x, y: x + y, 0.0
    ))
