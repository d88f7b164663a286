"""Spatial-join library (spatial.py) vs brute-force oracles: PIP ray
cast, cell-cover candidate pruning, kNN, raster<->vector pairing, and the
spatial index itself."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from richdem_spark.spatial import (
    assign_points_to_polygons,
    knn_join,
    knn_join_cells,
    pair_points_with_raster,
    point_in_polygon,
)
from richdem_spark.spatial_index import (
    cell_id,
    cell_neighbors,
    cell_parent,
    cell_to_xy,
    lonlat_to_bins,
)
from richdem_spark.webtext import geocode, rasterize_pages, synth_webtext


def test_spatial_index_roundtrip():
    rng = np.random.default_rng(0)
    lon = rng.uniform(-179, 179, 1000)
    lat = rng.uniform(-89, 89, 1000)
    for level in (4, 10, 20):
        cid = cell_id(lon, lat, level)
        x, y = cell_to_xy(cid, level)
        bx, by = lonlat_to_bins(lon, lat, level)
        assert np.array_equal(x, bx) and np.array_equal(y, by)
        # parent relation: parent cell covers the child
        if level > 4:
            par = cell_parent(cid, 1)
            px, py = cell_to_xy(par, level - 1)
            assert np.array_equal(px, bx // 2)
            assert np.array_equal(py, by // 2)


def test_cell_neighbors_ring():
    c = int(cell_id(np.array([10.0]), np.array([45.0]), 8)[0])
    ring = cell_neighbors(c, 8, ring=1)
    assert c in ring
    assert len(ring) == 9  # interior cell


def test_point_in_polygon_raycast():
    # unit square and a concave polygon
    sq_x = np.array([0.0, 1, 1, 0])
    sq_y = np.array([0.0, 0, 1, 1])
    px = np.array([0.5, 1.5, 0.99, -0.1])
    py = np.array([0.5, 0.5, 0.5, 0.5])
    assert point_in_polygon(px, py, sq_x, sq_y).tolist() == [
        True, False, True, False]
    # concave "C" shape: point inside notch is outside polygon
    cx = np.array([0.0, 3, 3, 1, 1, 3, 3, 0])
    cy = np.array([0.0, 0, 1, 1, 2, 2, 3, 3])
    assert not point_in_polygon(
        np.array([2.0]), np.array([1.5]), cx, cy
    )[0]
    assert point_in_polygon(np.array([0.5]), np.array([1.5]), cx, cy)[0]


def test_assign_points_to_polygons(spark):
    pages = geocode(synth_webtext(spark, 800, seed=3)).select(
        "url", "lat", "lon"
    )
    polys = [
        {"id": 1, "lon": [-60.0, -20, -20, -60], "lat": [-20.0, -20, 20, 20]},
        {"id": 2, "lon": [40.0, 90, 65], "lat": [0.0, 0, 40]},  # triangle
    ]
    got = assign_points_to_polygons(pages, polys, level=4).collect()
    got_set = {(r.point_id, r.polygon_id) for r in got}
    rows = pages.collect()
    exp = set()
    for p in polys:
        rx = np.array(p["lon"])
        ry = np.array(p["lat"])
        for r in rows:
            if point_in_polygon(np.array([r.lon]), np.array([r.lat]),
                                rx, ry)[0]:
                exp.add((r.url, p["id"]))
    assert got_set == exp
    assert len(exp) > 0


def test_knn_join_matches_bruteforce(spark):
    pages = geocode(synth_webtext(spark, 300, seed=5)).select(
        "url", "lat", "lon"
    )
    sites = [(i, -50.0 + 11 * i, -120.0 + 23 * i) for i in range(10)]
    got = knn_join(pages, sites, k=3).collect()
    by_point = {}
    for r in got:
        by_point.setdefault(r.point_id, []).append(
            (r.rank, r.site_id, r.dist_deg)
        )
    rows = pages.collect()
    arr = np.array([(s[1], s[2]) for s in sites])
    for r in rows:
        d2 = (r.lat - arr[:, 0]) ** 2 + (r.lon - arr[:, 1]) ** 2
        order = np.lexsort((np.arange(len(sites)), d2))[:3]
        mine = sorted(by_point[r.url])
        assert [m[1] for m in mine] == [int(sites[j][0]) for j in order]


def test_pair_points_with_raster(spark):
    pages = geocode(synth_webtext(spark, 500, seed=7))
    dem = rasterize_pages(pages, grid=64, tile=16, value="count")
    paired = pair_points_with_raster(pages.select("url", "lat", "lon"),
                                     dem, value_name="cell_count")
    rows = paired.collect()
    assert len(rows) == 500
    # every page's cell contains at least itself
    assert all(r.cell_count >= 1 for r in rows)


def test_knn_cell_ring_matches_broadcast(spark):
    """Cell-ring kNN (non-broadcastable-sites scale path) must equal the
    broadcast kNN including the (distance, site_id) tie rule."""
    import pandas as pd
    from richdem_spark.spatial import knn_join, knn_join_cells

    rng = np.random.default_rng(12)
    npts, nsites = 300, 40
    pts = pd.DataFrame({
        "url": [f"u{i}" for i in range(npts)],
        "lat": rng.uniform(-60, 60, npts).round(4),
        "lon": rng.uniform(-170, 170, npts).round(4),
    })
    sites = [(int(i), round(float(rng.uniform(-60, 60)), 4),
              round(float(rng.uniform(-170, 170)), 4))
             for i in range(nsites)]
    pdf = spark.createDataFrame(pts)
    sdf = spark.createDataFrame(
        [(s[0], s[1], s[2]) for s in sites],
        "site_id long, lat double, lon double")
    gold = {(r.point_id, r.rank): (r.site_id, round(r.dist_deg, 9))
            for r in knn_join(pdf, sites, k=3).collect()}
    got = {(r.point_id, r.rank): (r.site_id, round(r.dist_deg, 9))
           for r in knn_join_cells(pdf, sdf, k=3, level=4).collect()}
    assert got == gold


def _grid(rng, n, lat0, lon0, half):
    """n (lat, lon) pairs on the 0.001 deg grid within ``half`` steps of
    (lat0, lon0)."""
    d = rng.integers(-half, half + 1, (n, 2))
    return [(round(lat0 + a * 0.001, 3), round(lon0 + b * 0.001, 3))
            for a, b in d.tolist()]


def _knn_edge_case(case):
    """(points, sites) for one knn_join_cells edge case.  (0, 0) and
    (45, 90) are cell corners at every level the test uses."""
    rng = np.random.default_rng(3100)
    spread = _grid(rng, 40, 0.0, 0.0, 80000)
    if case == "edge_ties":
        pts = _grid(rng, 30, 0.0, 0.0, 4) + _grid(rng, 30, 45.0, 90.0, 4)
        sts = _grid(rng, 12, 0.0, 0.0, 4) + _grid(rng, 12, 45.0, 90.0, 4)
    elif case == "one_cell":
        pts, sts = spread, _grid(rng, 10, 10.15, 20.15, 50)
    elif case == "fewer_than_k":
        pts, sts = spread, spread[:2]
    elif case == "no_sites":
        pts, sts = spread, []
    elif case == "poles_antimeridian":
        pts = [(la, lo) for la in (-90.0, 0.0, 90.0)
               for lo in (-180.0, 0.0, 180.0)]
        sts = spread + [(90.0, 179.9), (-89.9, -180.0), (0.0, 180.0)]
    else:  # lon_out_of_range
        pts = [(0.0, -190.0), (12.5, -190.0), (-30.0, -179.0)]
        sts = spread + [(0.0, -179.0), (10.0, 170.0)]
    return ([(f"p{i}", la, lo) for i, (la, lo) in enumerate(pts)],
            [(i, la, lo) for i, (la, lo) in enumerate(sts)])


@pytest.mark.parametrize("level", [2, 4, 6])
@pytest.mark.parametrize("case", [
    "edge_ties", "one_cell", "fewer_than_k", "no_sites",
    "poles_antimeridian", "lon_out_of_range"])
def test_knn_cells_edge_cases_match_broadcast(spark, case, level):
    """knn_join_cells equals the broadcast knn_join, (distance, site_id)
    tie rule included, where its cell-pair plan is easiest to get wrong:
    exact ties across cell edges, sites piled in one cell, fewer sites
    than k, no sites at all, and points on or beyond the range edges."""
    k = 3
    pts, sites = _knn_edge_case(case)
    if case == "edge_ties":
        # the case must hold exact ties at the k-th distance
        P = np.array([p[1:] for p in pts])
        S = np.array([s[1:] for s in sites])
        d2 = np.sort(((P[:, None, :] - S[None, :, :]) ** 2).sum(-1), 1)
        assert (d2[:, k - 1] == d2[:, k]).any()
    pdf = spark.createDataFrame(pts, "url string, lat double, lon double")
    sdf = spark.createDataFrame(sites, "site_id long, lat double, lon double")
    gold = {(r.point_id, r.rank): (r.site_id, r.dist_deg)
            for r in knn_join(pdf, sites, k=k).collect()}
    got = [(r.point_id, r.rank, r.site_id, r.dist_deg)
           for r in knn_join_cells(pdf, sdf, k=k, level=level).collect()]
    assert {(p, r): (s, d) for p, r, s, d in got} == gold
    assert len(got) == len(gold) == len(pts) * min(k, len(sites))


def test_knn_cells_job_budget(spark, tmp_path):
    """knn_join_cells runs a fixed, small number of Spark jobs: two for
    the cell histogram, at most four for the one join-and-rank query.
    The inputs are parquet tables, as the entry queries read them."""
    rng = np.random.default_rng(7)
    pts, sts = str(tmp_path / "points"), str(tmp_path / "sites")
    spark.createDataFrame(
        [(f"u{i}", float(la), float(lo)) for i, (la, lo) in enumerate(
            zip(rng.uniform(-60, 60, 2000), rng.uniform(-170, 170, 2000)))],
        "url string, lat double, lon double").write.parquet(pts)
    spark.createDataFrame(
        [(i, float(la), float(lo)) for i, (la, lo) in enumerate(
            zip(rng.uniform(-60, 60, 200), rng.uniform(-170, 170, 200)))],
        "site_id long, lat double, lon double").write.parquet(sts)
    pdf, sdf = spark.read.parquet(pts), spark.read.parquet(sts)
    sc = spark.sparkContext
    group = "test_knn_cells_job_budget"
    sc.setJobGroup(group, "knn_join_cells job budget")
    try:
        rows = knn_join_cells(pdf, sdf, k=3, level=6).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 2000 * 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
