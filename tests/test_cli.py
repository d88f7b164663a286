"""The apps/rd_* CLI surface (richdem_spark.cli) — in-process, reusing
the session fixture (main() only stops sessions it created)."""

import json

import numpy as np
import pytest

from richdem_spark.cli import main
from richdem_spark.kernels.ascii_io import read_ascii_grid

DEM = "/root/reference/tests/depressions/testdem1.dem"
GOLDEN = "/root/reference/tests/depressions/testdem1.all.out"


def test_cli_fill_matches_golden(spark, tmp_path):
    out = str(tmp_path / "filled.asc")
    assert main(["fill", DEM, out]) == 0
    got, _ = read_ascii_grid(out)
    exp, _ = read_ascii_grid(GOLDEN)
    np.testing.assert_allclose(got, exp)


def test_cli_fill_geotiff_roundtrip(spark, tmp_path):
    out = str(tmp_path / "filled.tif")
    assert main(["fill", DEM, out, "--epsilon"]) == 0
    from richdem_spark.gtiff import parse_geotiff

    info = parse_geotiff(out)
    assert (info["width"], info["height"]) == (10, 10)


def test_cli_accum_and_strahler(spark, tmp_path):
    filled = str(tmp_path / "f.tif")
    acc = str(tmp_path / "acc.tif")
    stra = str(tmp_path / "s.tif")
    assert main(["fill", DEM, filled, "--epsilon"]) == 0
    assert main(["accum", filled, acc]) == 0
    assert main(["strahler", filled, stra]) == 0
    from richdem_spark.gtiff import read_geotiff

    a = read_geotiff(spark, acc).to_array()
    s = read_geotiff(spark, stra).to_array()
    assert a.max() > 1        # something accumulated
    assert s.max() >= 1 and s.dtype == np.int32


def test_cli_hist_info_surface_area(spark, tmp_path, capsys):
    assert main(["hist", DEM]) == 0
    out = capsys.readouterr().out
    assert "Nodata" in out
    assert main(["info", DEM]) == 0
    meta = json.loads(capsys.readouterr().out)
    assert meta["width"] == 10 and meta["data_cells"] > 0
    assert main(["surface-area", DEM]) == 0
    assert float(capsys.readouterr().out.strip()) > 0


def test_cli_compare_and_has_depressions(spark, tmp_path, capsys):
    filled = str(tmp_path / "f.asc")
    assert main(["fill", DEM, filled]) == 0
    # identical rasters compare equal, exit 0
    assert main(["compare", filled, filled]) == 0
    capsys.readouterr()
    # raw DEM has depressions (exit 1), filled does not (exit 0)
    assert main(["has-depressions", DEM]) == 1
    assert "has_depressions" in capsys.readouterr().out
    assert main(["has-depressions", filled]) == 0


def test_cli_terrain_and_pit_mask(spark, tmp_path):
    slope = str(tmp_path / "slope.tif")
    mask = str(tmp_path / "pits.tif")
    assert main(["terrain", DEM, slope, "--attrib", "slope_riserun"]) == 0
    assert main(["pit-mask", DEM, mask]) == 0
    from richdem_spark.gtiff import read_geotiff

    m = read_geotiff(spark, mask).to_array()
    assert set(np.unique(m)).issubset({0.0, 1.0, 3.0, -1.0})


def test_cli_unknown_attrib_raises(spark, tmp_path):
    with pytest.raises(KeyError):
        main(["terrain", DEM, str(tmp_path / "x.tif"),
              "--attrib", "nope"])


def test_cli_flood_flowdirs_watershed_nodata_history(spark, tmp_path,
                                                     capsys):
    dirs = str(tmp_path / "dirs.tif")
    ws = str(tmp_path / "ws.tif")
    assert main(["flood-flowdirs", DEM, dirs]) == 0
    assert main(["watershed", DEM, ws]) == 0
    from richdem_spark.gtiff import read_geotiff

    d = read_geotiff(spark, dirs).to_array()
    assert d.min() >= 0 and d.max() <= 255
    # no-data: get, then set on a copy
    assert main(["no-data", DEM]) == 0
    assert capsys.readouterr().out.strip() == "9.0"
    nd_out = str(tmp_path / "nd.tif")
    assert main(["no-data", DEM, "--set", "-1.0",
                 "--output", nd_out]) == 0
    from richdem_spark.gtiff import parse_geotiff

    assert parse_geotiff(nd_out)["nodata"] == -1.0
    # history: the fill output records its op
    filled = str(tmp_path / "f2")
    assert main(["fill", DEM, filled]) == 0
    assert main(["history", filled]) == 0
    assert "fill_depressions" in capsys.readouterr().out


def test_cli_dephier_and_fsm(spark, tmp_path, capsys):
    labels = str(tmp_path / "labels.tif")
    assert main(["dephier", DEM, labels]) == 0
    deps = json.loads(capsys.readouterr().out)
    assert isinstance(deps, list) and len(deps) >= 1
    assert all("dep_label" in d for d in deps)

    # fsm: tiny uniform water layer over the DEM
    from richdem_spark.kernels.ascii_io import read_ascii_grid as _rag

    dem_arr, dmeta = _rag(DEM)
    wtd_arr = np.full(dem_arr.shape, 0.05)
    wtd_arr[dem_arr == dmeta.get("nodata_value")] = 0.0
    from richdem_spark.tiles import raster_from_array, write_raster

    wtd_path = str(tmp_path / "wtd_table")
    write_raster(raster_from_array(spark, wtd_arr, tile_w=256,
                                   tile_h=256), wtd_path)
    fsm_out = str(tmp_path / "water.tif")
    assert main(["fsm", DEM, fsm_out, "--wtd", wtd_path]) == 0
    from richdem_spark.gtiff import read_geotiff

    water = read_geotiff(spark, fsm_out).to_array()
    assert water.shape == dem_arr.shape
    assert float(np.nanmax(water)) >= 0.0


def test_cli_geotransform_projection(spark, tmp_path, capsys):
    # get
    assert main(["geotransform", DEM]) == 0
    gt = json.loads(capsys.readouterr().out)
    assert len(gt) == 6 and gt[1] == 3.0
    # set geotransform on a copy (tile-table output keeps projection)
    out = str(tmp_path / "gt_out")
    assert main(["geotransform", DEM, "--set", "10", "2", "0", "99",
                 "0", "-2", "--output", out]) == 0
    assert main(["geotransform", out]) == 0
    assert json.loads(capsys.readouterr().out) == [10, 2, 0, 99, 0, -2]
    assert main(["projection", out, "--set", "EPSG:26915",
                 "--output", str(tmp_path / "pj_out")]) == 0
    assert main(["projection", str(tmp_path / "pj_out")]) == 0
    assert capsys.readouterr().out.strip() == "EPSG:26915"


def _write_dirs(path, arr, nodata=None):
    from richdem_spark.kernels.ascii_io import write_ascii_grid

    meta = {"nodata_value": nodata} if nodata is not None else {}
    with open(path, "w") as f:
        f.write(write_ascii_grid(arr, meta))


def test_cli_taudem_convert(spark, tmp_path):
    # TauDEM 1=E counter-clockwise -> facets {0,5,4,3,2,1,8,7,6}
    # (apps/rd_taudem_d8_to_richdem_d8.cpp)
    taud = np.array([[1, 2, 3], [4, 0, 5], [6, 7, 99]], dtype=float)
    src = str(tmp_path / "taud.asc")
    _write_dirs(src, taud, nodata=99)
    out = str(tmp_path / "rich.asc")
    assert main(["taudem-convert", src, out]) == 0
    got, meta = read_ascii_grid(out)
    exp = np.array([[5, 4, 3], [2, 0, 1], [8, 7, 255]], dtype=float)
    np.testing.assert_array_equal(got, exp)
    assert meta["nodata_value"] == 255

    bad = str(tmp_path / "bad.asc")
    _write_dirs(bad, np.array([[9.0]]))
    with pytest.raises(Exception, match="[Ii]nvalid"):
        main(["taudem-convert", bad, str(tmp_path / "x.asc")])


def test_cli_arcgis_convert(spark, tmp_path):
    # ArcGIS bit codes -> RichDEM facets (misc/conversion.hpp:11-35)
    src = str(tmp_path / "arc.asc")
    _write_dirs(src, np.array([[0, 16, 32], [64, 128, 1]], dtype=float))
    out = str(tmp_path / "rich.asc")
    assert main(["arcgis-convert", src, out]) == 0
    got, _ = read_ascii_grid(out)
    np.testing.assert_array_equal(got, [[0, 1, 2], [3, 4, 5]])

    nd = str(tmp_path / "arc_nd.asc")
    _write_dirs(nd, np.array([[2.0, 4.0, 8.0, -9999.0]]), nodata=-9999)
    assert main(["arcgis-convert", nd, out]) == 0
    got, meta = read_ascii_grid(out)
    np.testing.assert_array_equal(got, [[6, 7, 8, 255]])
    assert meta["nodata_value"] == 255


def test_cli_loop_check(spark, tmp_path, capsys):
    # all NO_FLOW: trivially acyclic
    flat = str(tmp_path / "flat.asc")
    _write_dirs(flat, np.zeros((4, 4)))
    assert main(["loop-check", flat]) == 0
    assert json.loads(capsys.readouterr().out)["acyclic"] is True

    # 2-cycle inside one tile: (0,0) -E-> (1,0) -W-> (0,0)
    loop = np.zeros((4, 4))
    loop[0, 0], loop[0, 1] = 5, 1
    lp = str(tmp_path / "loop.asc")
    _write_dirs(lp, loop)
    assert main(["loop-check", lp]) == 1
    rep = json.loads(capsys.readouterr().out)
    assert rep["acyclic"] is False and rep["in_tile_loop_cells"] >= 2

    # same cycle split across a tile seam: (1,0) -E-> (2,0) -W-> (1,0)
    xloop = np.zeros((4, 4))
    xloop[0, 1], xloop[0, 2] = 5, 1
    xp = str(tmp_path / "xloop.asc")
    _write_dirs(xp, xloop)
    assert main(["--tile", "2", "loop-check", xp]) == 1
    rep = json.loads(capsys.readouterr().out)
    assert rep["acyclic"] is False
    assert rep["in_tile_loop_cells"] == 0
    assert rep["cross_tile_loop_cells"] >= 2

    # real flowdirs off an epsilon-filled DEM are acyclic, multi-tile
    dirs = str(tmp_path / "dirs.asc")
    assert main(["--tile", "5", "flood-flowdirs", DEM, dirs]) == 0
    assert main(["--tile", "5", "loop-check", dirs]) == 0
    assert json.loads(capsys.readouterr().out)["acyclic"] is True


def test_cli_layout_check(spark, tmp_path, capsys):
    import os

    lay_dir = str(tmp_path / "lay")
    assert main(["--tile", "5", "split-layout", DEM, lay_dir]) == 0
    layout = capsys.readouterr().out.strip()
    assert main(["layout-check", layout]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["ok"] is True
    assert rep["data_tiles"] == 4 and rep["null_tiles"] == 0
    assert rep["shapes"] == [[5, 5]]

    os.remove(os.path.join(lay_dir, "tile_1_1.tif"))
    assert main(["layout-check", layout]) == 1
    rep = json.loads(capsys.readouterr().out)
    assert rep["ok"] is False and rep["missing"] == ["tile_1_1.tif"]


def test_cli_layout_display_and_find_square(tmp_path, capsys):
    lp = str(tmp_path / "m.layout")
    with open(lp, "w") as f:
        f.write("a.tif,b.tif,c.tif\nd.tif,,e.tif\nf.tif,g.tif,h.tif\n")
    assert main(["layout-display", lp]) == 0
    assert capsys.readouterr().out == "###\n# #\n###\n"

    # hole at centre caps the largest square at 1
    assert main(["layout-find-square", lp]) == 0
    assert capsys.readouterr().out.strip() == "1"

    full = str(tmp_path / "full.layout")
    with open(full, "w") as f:
        f.write("a,b,c\nd,e,f\ng,h,i\n")
    pre = str(tmp_path / "sq")
    assert main(["layout-find-square", full, "--prefix", pre]) == 0
    assert capsys.readouterr().out.strip() == "3"
    with open(pre + "2.layout") as f:
        assert f.read() == "a,b\nd,e\n"

    # reference quirk: the DP never seeds from the last row, so a
    # 1-row layout reports -1 (exit 1), as the original script does
    one = str(tmp_path / "one.layout")
    with open(one, "w") as f:
        f.write("a,b\n")
    assert main(["layout-find-square", one]) == 1
    assert capsys.readouterr().out.strip() == "-1"


def test_cli_raster_display(spark, capsys):
    assert main(["raster-display", DEM]) == 0
    out = capsys.readouterr().out.strip().split("\n")
    assert len(out) == 10
    first = out[0].split()
    assert len(first) == 10 and all(c.isdigit() for c in first)
