"""One tile schema: every tile row carries its border strips (hs_n, hs_s,
hs_w, hs_e) and halo_join builds every halo from them in the JVM.  These
tests pin the schema on every source, check the single halo path against
the single-grid kernels, and check that tables missing a column are
rejected."""

import numpy as np
import pytest

from richdem_spark.api import (
    FillDepressions,
    FlowDirectionsD8,
    TerrainAttribute,
)
from richdem_spark.kernels.d8 import d8_flow_accum, d8_flow_directions
from richdem_spark.kernels.fill import priority_flood_fill
from richdem_spark.kernels.perlin import generate_perlin_terrain
from richdem_spark.kernels.terrain import slope_riserun
from richdem_spark.ops.accum import flow_accumulation_d8_from_elev
from richdem_spark.tiles import (
    TILE_COLS,
    raster_from_array,
    read_raster,
    read_raster_table,
    write_raster_table,
)

TABLE = "halo_strips_test"


@pytest.fixture(scope="module")
def perlin():
    # 50 x 70 in 16 x 16 tiles: ragged last row and column of tiles
    return generate_perlin_terrain(70, seed=5)[:50].copy()


def _rasterize(spark, dem, tmp_path):
    from richdem_spark.webtext import geocode, rasterize_pages, synth_webtext

    return rasterize_pages(geocode(synth_webtext(spark, 2000)), grid=48,
                           tile=16)


def _from_array_f32(spark, dem, tmp_path):
    return raster_from_array(spark, dem.astype(np.float32), 16, 16)


def _table_round_trip(spark, dem, tmp_path):
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    write_raster_table(raster_from_array(spark, dem, 16, 16), TABLE)
    return read_raster_table(spark, TABLE)


def _gtiff(spark, dem, tmp_path):
    from richdem_spark.gtiff import read_geotiff, write_geotiff

    p = str(tmp_path / "dem.tif")
    write_geotiff(raster_from_array(spark, dem, 16, 16), p, compress=True,
                  rows_per_strip=7)
    return read_geotiff(spark, p, tile_w=16, tile_h=16)


SOURCES = {
    "raster_from_array": _from_array_f32,
    "table_round_trip": _table_round_trip,
    "rasterize_pages": _rasterize,
    "fill": lambda spark, dem, tmp: FillDepressions(
        raster_from_array(spark, dem, 16, 16)),
    "slope": lambda spark, dem, tmp: TerrainAttribute(
        raster_from_array(spark, dem, 16, 16), "slope_riserun"),
    "d8_accum": lambda spark, dem, tmp: flow_accumulation_d8_from_elev(
        FillDepressions(raster_from_array(spark, dem, 16, 16))),
    "gtiff": _gtiff,
}


@pytest.mark.parametrize("source", sorted(SOURCES))
def test_every_source_carries_strips(spark, perlin, tmp_path, source):
    """In every row the strips are the borders of ``data``, the blob's
    size fits ``dtype`` and the meta agrees with the rows."""
    try:
        tr = SOURCES[source](spark, perlin, tmp_path)
        assert tuple(tr.df.columns) == TILE_COLS
        rows = tr.df.collect()
        assert len(rows) == tr.meta.ntiles_x * tr.meta.ntiles_y
        for r in rows:
            dt = np.dtype(r.dtype)
            assert r.dtype == tr.meta.dtype
            assert len(r.data) == r.height * r.width * dt.itemsize
            a = np.frombuffer(r.data, dt).reshape(r.height, r.width)
            for col, border in (("hs_n", a[0, :]), ("hs_s", a[-1, :]),
                                ("hs_w", a[:, 0]), ("hs_e", a[:, -1])):
                assert getattr(r, col) == border.tobytes(), (col, r)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


@pytest.mark.parametrize("source", ["raster_from_array", "table_round_trip"])
def test_tiled_slope_and_accum_match_single_grid(spark, perlin, tmp_path,
                                                  source):
    """The one halo path reproduces the single-grid kernels exactly,
    also on a DEM read back from a table."""
    try:
        if source == "raster_from_array":
            tr = raster_from_array(spark, perlin, 16, 16)
        else:
            tr = _table_round_trip(spark, perlin, tmp_path)
        slope = TerrainAttribute(tr, "slope_riserun").to_array()
        np.testing.assert_array_equal(slope, slope_riserun(perlin))
        acc = flow_accumulation_d8_from_elev(FillDepressions(tr)).to_array()
        want = d8_flow_accum(d8_flow_directions(priority_flood_fill(perlin)))
        np.testing.assert_array_equal(acc, want)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_multi_tile_epsilon_fill_drains(spark):
    """Epsilon fill across tiles routes through the direction and flats
    halo ops: every interior cell gets a D8 direction, and the output
    never lies below the DEM."""
    rng = np.random.default_rng(7)
    dem = rng.integers(0, 6, (36, 44)).astype(np.float64)
    eps = FillDepressions(raster_from_array(spark, dem, 12, 10),
                          epsilon=True)
    d = FlowDirectionsD8(eps).to_array()
    assert (d[1:-1, 1:-1] != 0).all()
    assert (eps.to_array() >= dem).all()


def test_table_without_strips_is_rejected(spark, tmp_path):
    """Tables on disk are outside input: a tile table written without the
    strip columns fails on read, naming what is missing."""
    import json

    tr = raster_from_array(spark, np.arange(64.0).reshape(8, 8), 4, 4)
    path = str(tmp_path / "nostrips")
    tr.df.select("tile_x", "tile_y", "width", "height", "dtype", "nodata",
                 "data").write.parquet(path)
    with open(path + "/_raster_meta.json", "w") as f:
        json.dump({"width": 8, "height": 8, "tile_w": 4, "tile_h": 4}, f)
    with pytest.raises(ValueError, match="hs_n, hs_s, hs_w, hs_e"):
        read_raster(spark, path)

    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}_bare")
    try:
        write_raster_table(tr, TABLE)
        spark.sql(f"CREATE TABLE {TABLE}_bare USING parquet AS "
                  f"SELECT tile_x, tile_y, width, height, dtype, nodata, "
                  f"data, hs_n FROM {TABLE}")
        props = spark.sql(f"SHOW TBLPROPERTIES {TABLE}").collect()
        meta = [r["value"] for r in props if r["key"] == "richdem_meta"][0]
        spark.sql(f"ALTER TABLE {TABLE}_bare SET TBLPROPERTIES "
                  f"('richdem_meta' = '{meta}')")
        with pytest.raises(ValueError, match="hs_s, hs_w, hs_e"):
            read_raster_table(spark, f"{TABLE}_bare")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
        spark.sql(f"DROP TABLE IF EXISTS {TABLE}_bare")


def test_float32_dem_resolve_flats(spark):
    """Regression (round-6 review): the labels-halo raster must carry an
    int64 meta dtype — a float32 DEM's 4-byte itemsize would slice
    4-byte corners out of 8-byte label strips in the JVM halo path."""
    import numpy as np

    from richdem_spark.api import ResolveFlats
    from richdem_spark.tiles import raster_from_array

    a = np.ones((24, 24), dtype=np.float32)
    a[0, :] = 0.5  # drainable edge so the flat resolves
    tr = raster_from_array(spark, a, tile_w=8, tile_h=8)
    out = ResolveFlats(tr).to_array()
    assert out.shape == (24, 24)


def test_all_nodata_float32_fill_then_slope(spark):
    """Fill's early exit (nothing to raise) must still report the float64
    rows round 1 packed, not the float32 input meta; slope reads them."""
    a = np.full((8, 8), -9999.0, dtype=np.float32)
    tr = raster_from_array(spark, a, tile_w=4, tile_h=4, nodata=-9999.0)
    filled = FillDepressions(tr)
    assert filled.meta.dtype == "float64"
    slope = TerrainAttribute(filled, "slope_riserun")
    assert slope.meta.dtype == "float64"
    assert slope.to_array().shape == (8, 8)
