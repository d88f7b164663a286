"""Command-line apps mirroring the reference's ``apps/rd_*`` programs.

The reference is mostly driven through thin CLI wrappers around the
library (``apps/rd_depressions_flood.cpp``, ``rd_flow_accumulation.cpp``,
``rd_terrain_property.cpp``, ``rd_hist.cpp``, ``rd_compare.cpp``,
``rd_raster_inspect.cpp``, …, each routed through ``apps/router.hpp``).
This module is the same surface over the Spark engine::

    python -m richdem_spark fill dem.tif filled.tif --epsilon
    python -m richdem_spark accum dem.tif acc.tif --method Quinn
    python -m richdem_spark hist dem.tif
    python -m richdem_spark compare a.tif b.tif

Raster I/O dispatches on the path: ``.tif/.tiff`` uses the pure-stdlib
GeoTIFF reader/writer (classic + BigTIFF), ``.asc/.dem/.out`` the Arc
ASCII codec, anything else is treated as a tile-table directory
(:func:`richdem_spark.tiles.read_raster` / ``write_raster``) — the
production path on a cluster.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _get_spark(master: str, shuffle: int | None = None):
    from .session import get_spark

    return get_spark(app="richdem_spark_cli", master=master,
                     shuffle_partitions=shuffle or 32)


def _read(spark, path: str, tile: int):
    low = path.lower()
    if low.endswith((".tif", ".tiff")):
        from .gtiff import read_geotiff

        return read_geotiff(spark, path, tile_w=tile, tile_h=tile)
    if low.endswith((".asc", ".dem", ".out", ".d8")):
        from .kernels.ascii_io import read_ascii_grid
        from .tiles import raster_from_array

        arr, meta = read_ascii_grid(path)
        kw = {}
        if meta.get("geotransform"):
            kw["geotransform"] = tuple(meta["geotransform"])
        return raster_from_array(
            spark, arr, tile_w=tile, tile_h=tile,
            nodata=meta.get("nodata_value"), **kw)
    from .tiles import read_raster

    return read_raster(spark, path)


def _write(tr, path: str) -> None:
    low = path.lower()
    if low.endswith((".tif", ".tiff")):
        from .gtiff import write_geotiff

        write_geotiff(tr, path)
    elif low.endswith((".asc", ".dem", ".out", ".d8")):
        from .kernels.ascii_io import write_ascii_grid

        meta = {}
        if tr.meta.nodata is not None:
            meta["nodata_value"] = tr.meta.nodata
        with open(path, "w") as f:
            f.write(write_ascii_grid(tr.to_array(), meta))
    else:
        from .tiles import write_raster

        write_raster(tr, path)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="richdem_spark",
        description="RichDEM-on-Spark command-line apps (apps/rd_*)")
    p.add_argument("--master", default=os.environ.get(
        "SPARK_GRAFT_MASTER", "local[*]"))
    p.add_argument("--tile", type=int, default=256,
                   help="tile edge for file ingest (default 256)")
    sub = p.add_subparsers(dest="cmd", required=True)

    def io_cmd(name, help_, out=True):
        c = sub.add_parser(name, help=help_)
        c.add_argument("input")
        if out:
            c.add_argument("output")
        return c

    c = io_cmd("fill", "Priority-Flood fill (rd_depressions_flood)")
    c.add_argument("--epsilon", action="store_true")
    c.add_argument("--topology", default="D8", choices=["D8", "D4"])

    c = io_cmd("breach", "Lindsay-2016 breaching (rd_depressions_breach)")
    c.add_argument("--mode", default="complete",
                   choices=["complete", "selective", "constrained"])
    c.add_argument("--fill", action="store_true")
    c.add_argument("--epsilon", action="store_true")
    c.add_argument("--max-path-len", type=int, default=2**31)
    c.add_argument("--max-depth", type=float, default=float("inf"))

    c = io_cmd("flowdirs", "D8/D-infinity directions (rd_d8_flowdirs)")
    c.add_argument("--method", default="D8", choices=["D8", "Dinf"])

    c = io_cmd("accum", "flow accumulation (rd_flow_accumulation)")
    c.add_argument("--method", default="D8")
    c.add_argument("--exponent", type=float, default=None)

    c = io_cmd("terrain", "terrain attribute (rd_terrain_property)")
    c.add_argument("--attrib", required=True)
    c.add_argument("--zscale", type=float, default=1.0)

    io_cmd("strahler", "Strahler stream order")
    io_cmd("pit-mask", "depression-cell mask (rd_depressions_mask)")
    io_cmd("flood-flowdirs", "epsilon fill then D8 dirs "
                             "(rd_flood_for_flowdirs)")
    io_cmd("watershed", "Priority-Flood watershed labels")
    c = io_cmd("dephier", "depression hierarchy labels; prints the "
                          "hierarchy as JSON (rd_depression_hierarchy)")
    c.add_argument("--ocean", default=None,
                   help="optional ocean-labels raster")
    c = io_cmd("fsm", "Fill-Spill-Merge standing water "
                      "(rd_fill_spill_merge)")
    c.add_argument("--wtd", required=True,
                   help="surface-water-depth raster")
    c = io_cmd("no-data", "get/set the NoData value (rd_no_data)",
               out=False)
    c.add_argument("--set", type=float, default=None, dest="set_nd")
    c.add_argument("--output", default=None,
                   help="required with --set")
    c = io_cmd("geotransform", "get/set the geotransform "
                               "(rd_geotransform)", out=False)
    c.add_argument("--set", nargs=6, type=float, default=None,
                   dest="set_gt", metavar="G")
    c.add_argument("--output", default=None,
                   help="required with --set")
    c = io_cmd("projection", "get/set the projection (rd_projection)",
               out=False)
    c.add_argument("--set", default=None, dest="set_proj")
    c.add_argument("--output", default=None,
                   help="required with --set")
    io_cmd("history", "print PROCESSING_HISTORY "
                      "(rd_processing_history)", out=False)
    c = io_cmd("merge-layout", "mosaic a Layoutfile of tile rasters "
                               "into one raster "
                               "(rd_merge_rasters_by_layout)")
    c.add_argument("--nodata", type=float, default=None,
                   help="fill value for blank layout slots")
    io_cmd("split-layout", "write one GeoTIFF per tile + a Layoutfile "
                           "manifest (the parallel programs' exchange "
                           "format); OUTPUT is a directory")

    c = io_cmd("expand", "grow canvas (rd_expand_dimensions)")
    c.add_argument("--width", type=int, required=True)
    c.add_argument("--height", type=int, required=True)
    c.add_argument("--value", type=float, default=0.0)

    io_cmd("arcgis-convert", "ArcGIS flowdirs -> RichDEM facets")
    io_cmd("taudem-convert", "TauDEM flowdirs -> RichDEM facets "
                             "(rd_taudem_d8_to_richdem_d8)")
    io_cmd("loop-check", "verify a flowdir raster is acyclic "
                         "(rd_loop_check)", out=False)
    io_cmd("layout-check", "validate a Layoutfile: files exist, one "
                           "shared tile shape (rd_layout_check.py)",
           out=False)
    io_cmd("layout-display", "ASCII occupancy map of a Layoutfile "
                             "(rd_layout_display.py)", out=False)
    c = io_cmd("layout-find-square", "largest filled tile square in a "
                                     "Layoutfile "
                                     "(rd_layout_find_square.py)",
               out=False)
    c.add_argument("--prefix", default=None,
                   help="write nested <prefix><size>.layout files; "
                        "default prints the dimension only")
    c = io_cmd("raster-display", "print a raster to the terminal "
                                 "(rd_raster_display)", out=False)
    c.add_argument("--flip", default="noflip",
                   choices=["noflip", "fliph", "flipv", "fliphv"])

    io_cmd("hist", "value histogram (rd_hist)", out=False)
    io_cmd("info", "raster metadata (rd_raster_inspect / "
                   "rd_geotransform / rd_no_data / "
                   "rd_processing_history)", out=False)
    io_cmd("has-depressions", "exit 1 iff depressions exist "
                              "(rd_depressions_has)", out=False)
    io_cmd("surface-area", "3-D surface area (rd_surface_area)",
           out=False)

    c = sub.add_parser("compare", help="raster diff (rd_compare)")
    c.add_argument("a")
    c.add_argument("b")

    args = p.parse_args(argv)
    # manifest-only commands never touch pixel data — no session
    if args.cmd in ("layout-display", "layout-find-square"):
        return _layout_cmd(args)
    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession()
    spark = pre_existing or _get_spark(args.master)
    try:
        return _dispatch(spark, args)
    finally:
        if pre_existing is None:
            spark.stop()


def _layout_cmd(args) -> int:
    if args.cmd == "layout-display":
        with open(args.input) as f:
            for line in f:
                cells = line.rstrip("\n").split(",")
                print("".join("#" if c.strip() else " "
                              for c in cells))
        return 0
    from .layout import find_largest_square

    best, loc, raw = find_largest_square(args.input)
    if args.prefix and best > 0:
        y0, x0 = loc
        for size in range(1, best + 1):
            with open(f"{args.prefix}{size}.layout", "w") as f:
                for y in range(y0, y0 + size):
                    f.write(",".join(raw[y][x0:x0 + size]) + "\n")
    print(best)
    return 0 if best > 0 else 1


def _dispatch(spark, args) -> int:
    from . import api

    if args.cmd == "compare":
        a = _read(spark, args.a, args.tile)
        b = _read(spark, args.b, args.tile)
        rep = api.RasterCompare(a, b)
        print(json.dumps(rep))
        return 0 if rep["max_abs_diff"] == 0.0 else 1

    if args.cmd == "merge-layout":
        from .layout import read_layout

        _write(read_layout(spark, args.input, nodata=args.nodata),
               args.output)
        return 0

    if args.cmd == "layout-check":
        from .layout import check_layout

        rep = check_layout(spark, args.input)
        print(json.dumps(rep))
        return 0 if rep["ok"] else 1

    tr = _read(spark, args.input, args.tile)

    if args.cmd == "split-layout":
        from .layout import write_layout

        print(write_layout(tr, args.output))
        return 0

    if args.cmd == "hist":
        hist = api.Histogram(tr)
        print(f"Nodata: {tr.meta.nodata}")
        for k in sorted(hist):
            print(f"{k:>20} {hist[k]:>20}")
        return 0
    if args.cmd == "info":
        m = tr.meta
        print(json.dumps({
            "width": m.width, "height": m.height,
            "tile_w": m.tile_w, "tile_h": m.tile_h,
            "dtype": m.dtype, "nodata": m.nodata,
            "geotransform": list(m.geotransform),
            "projection": m.projection,
            "history": getattr(m, "history", None),
            "data_cells": api.NumDataCells(tr),
            "min_max": list(api.RasterMinMax(tr)),
        }, default=str))
        return 0
    if args.cmd == "raster-display":
        gt = tr.meta.geotransform
        # flip so north-up/west-east display order holds, XOR the
        # user's directive (rd_raster_display.cpp:30-34)
        if (gt[1] < 0) ^ (args.flip in ("fliph", "fliphv")):
            tr = api.FlipHorz(tr)
        if (gt[5] > 0) ^ (args.flip in ("flipv", "fliphv")):
            tr = api.FlipVert(tr)
        print("Geotransform: "
              + " ".join(f"{x:6.2g}" for x in gt), file=sys.stderr)
        for row in tr.to_array():
            print(" ".join(f"{int(v):>6d}" for v in row))
        return 0
    if args.cmd == "loop-check":
        rep = api.LoopCheck(tr)
        print(json.dumps(rep))
        return 0 if rep["acyclic"] else 1
    if args.cmd == "has-depressions":
        filled = api.FillDepressions(tr)
        delta = api.RasterCompare(tr, filled)
        has = delta["max_abs_diff"] > 0.0
        print("has_depressions" if has else "no_depressions")
        return 1 if has else 0
    if args.cmd == "surface-area":
        print(api.SurfaceArea(tr))
        return 0
    if args.cmd in ("no-data", "geotransform", "projection"):
        field, new_val = {
            "no-data": ("nodata", getattr(args, "set_nd", None)),
            "geotransform": ("geotransform",
                             tuple(args.set_gt) if getattr(
                                 args, "set_gt", None) else None),
            "projection": ("projection", getattr(args, "set_proj",
                                                 None)),
        }[args.cmd]
        if new_val is None:
            cur = getattr(tr.meta, field)
            print(json.dumps(list(cur)) if field == "geotransform"
                  else cur)
            return 0
        if not args.output:
            raise SystemExit("--set requires --output")
        import dataclasses

        from .tiles import TiledRaster

        new_meta = dataclasses.replace(tr.meta, **{field: new_val})
        _write(TiledRaster(tr.df, new_meta), args.output)
        return 0
    if args.cmd == "history":
        for line in tr.meta.history:
            print(line)
        return 0
    if args.cmd == "dephier":
        ocean = (_read(spark, args.ocean, args.tile)
                 if args.ocean else None)
        deps, labels, _dirs = api.GetDepressionHierarchy(
            tr, ocean_labels=ocean)
        print(json.dumps([
            {k: getattr(d, k) for k in
             ("dep_label", "parent", "pit_cell", "pit_elev",
              "out_elev", "cell_count", "dep_vol")}
            for d in deps], default=str))
        _write(labels, args.output)
        return 0
    if args.cmd == "fsm":
        wtd = _read(spark, args.wtd, args.tile)
        _write(api.FillSpillMerge(tr, wtd), args.output)
        return 0

    if args.cmd == "fill":
        out = api.FillDepressions(tr, epsilon=args.epsilon,
                                  topology=args.topology)
    elif args.cmd == "breach":
        out = api.BreachDepressions(
            tr, mode=args.mode, fill=args.fill, epsilon=args.epsilon,
            max_path_len=args.max_path_len, max_depth=args.max_depth)
    elif args.cmd == "flowdirs":
        out = (api.FlowDirectionsD8(tr) if args.method == "D8"
               else api.FlowDirectionsDinf(tr))
    elif args.cmd == "accum":
        params = {}
        if args.exponent is not None:
            params["exponent"] = args.exponent
        out = api.FlowAccumulation(tr, args.method, **params)
    elif args.cmd == "terrain":
        out = api.TerrainAttribute(tr, args.attrib, zscale=args.zscale)
    elif args.cmd == "strahler":
        out = api.StrahlerOrder(api.FlowDirectionsD8(tr))
    elif args.cmd == "pit-mask":
        # api.PitMask returns the relational (x, y, value) edge; the CLI
        # writes rasters, so derive the mask tile-wise (same semantics)
        from .ops.focal import combine_tiles

        nd = tr.meta.nodata
        filled = api.FillDepressions(tr)

        def mask(orig, fill):
            m = (fill != orig).astype(orig.dtype)
            if nd is not None:
                m[orig == nd] = 3
            return m

        out = combine_tiles(tr, filled, mask, op_name="pit_mask")
    elif args.cmd == "expand":
        out = api.Expand(tr, args.width, args.height, args.value)
    elif args.cmd == "flood-flowdirs":
        out = api.FlowDirectionsD8(api.FillDepressions(tr, epsilon=True))
    elif args.cmd == "watershed":
        out = api.WatershedLabels(tr)
    elif args.cmd == "arcgis-convert":
        from .constants import FLOWDIR_NO_DATA
        from .kernels.d8 import arcgis_to_d8
        from .ops.focal import elementwise

        nd = tr.meta.nodata
        out = elementwise(
            tr, lambda a: arcgis_to_d8(a, nodata=nd), out_dtype="uint8",
            out_nodata=None if nd is None else float(FLOWDIR_NO_DATA),
            op_name="arcgis_to_d8")
    elif args.cmd == "taudem-convert":
        out = api.TaudemFlowdirs(tr)
    else:                                   # pragma: no cover
        raise SystemExit(f"unknown command {args.cmd}")
    _write(out, args.output)
    return 0


if __name__ == "__main__":
    sys.exit(main())
