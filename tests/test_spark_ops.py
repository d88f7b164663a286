"""Distributed operators vs the single-grid NumPy oracle kernels — the
same cross-parallelism comparison strategy the reference uses for its MPI
programs (programs/parallel_priority_flood/test.py,
programs/parallel_d8_accum/test_small.sh)."""

import numpy as np
import pytest

from richdem_spark.api import (
    FillDepressions,
    FindFlats,
    FlowAccumulation,
    FlowAccumulationFromDirs,
    FlowDirectionsD8,
    TerrainAttribute,
)
from richdem_spark.kernels import terrain as tkern
from richdem_spark.kernels.ascii_io import read_ascii_grid
from richdem_spark.kernels.d8 import d8_flow_accum, d8_flow_directions
from richdem_spark.kernels.fill import priority_flood_fill
from richdem_spark.tiles import raster_from_array

REF = "/root/reference/tests"


def _random_dem(seed, h=37, w=41):
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 60, (h, w)).astype(np.float64)
    return base


@pytest.mark.parametrize("tile", [7, 16, 64])
def test_distributed_fill_matches_kernel(spark, tile):
    dem = _random_dem(3)
    golden = priority_flood_fill(dem)
    tr = raster_from_array(spark, dem, tile_w=tile, tile_h=tile)
    got = FillDepressions(tr).to_array()
    assert np.array_equal(got, golden)


def test_distributed_fill_golden_fixture(spark):
    dem, meta = read_ascii_grid(f"{REF}/depressions/testdem1.dem")
    expected, _ = read_ascii_grid(f"{REF}/depressions/testdem1.all.out")
    tr = raster_from_array(spark, dem, tile_w=4, tile_h=4,
                           nodata=meta["nodata_value"])
    got = FillDepressions(tr).to_array()
    assert np.array_equal(got, expected)


@pytest.mark.parametrize("tile", [7, 16])
def test_distributed_flowdirs_match_kernel(spark, tile):
    dem = priority_flood_fill(_random_dem(5))
    golden = d8_flow_directions(dem)
    tr = raster_from_array(spark, dem, tile_w=tile, tile_h=tile)
    got = FlowDirectionsD8(tr).to_array()
    assert np.array_equal(got, golden)


@pytest.mark.parametrize("tile", [5, 13, 64])
def test_distributed_accum_matches_kernel(spark, tile):
    dem = priority_flood_fill(_random_dem(11))
    dirs = d8_flow_directions(dem)
    golden = d8_flow_accum(dirs)
    tr = raster_from_array(spark, dem, tile_w=tile, tile_h=tile)
    got = FlowAccumulation(tr, "D8").to_array()
    assert np.array_equal(got, golden)
    # mass conservation: every data cell contributes exactly once and all
    # flow reaches the edge or a sink; totals must match the oracle
    assert got.sum() == golden.sum()


def test_distributed_accum_golden_fixture(spark):
    dirs, meta = read_ascii_grid(f"{REF}/flow_accum/testdem5.d8")
    nodata = meta["nodata_value"]
    d = dirs.astype(np.int64)
    d[dirs == nodata] = 255
    expected, _ = read_ascii_grid(f"{REF}/flow_accum/testdem5.out")
    tr = raster_from_array(spark, d.astype(np.uint8), tile_w=3, tile_h=4,
                           nodata=255.0)
    got = FlowAccumulationFromDirs(tr).to_array()
    assert np.array_equal(got, expected)


def test_terrain_attributes_match_kernel(spark):
    dem = _random_dem(13).astype(np.float64)
    tr = raster_from_array(spark, dem, tile_w=16, tile_h=16)
    for attrib, kern in [
        ("slope_riserun", tkern.slope_riserun),
        ("aspect", tkern.aspect),
        ("curvature", tkern.curvature),
        ("profile_curvature", tkern.profile_curvature),
        ("planform_curvature", tkern.planform_curvature),
    ]:
        golden = kern(dem)
        got = TerrainAttribute(tr, attrib).to_array()
        assert np.allclose(got, golden, atol=1e-12), attrib


def test_find_flats_matches_kernel(spark):
    dem = _random_dem(17)
    dem[10:20, 10:20] = 5.0  # a flat
    golden = tkern.find_flats(dem)
    tr = raster_from_array(spark, dem, tile_w=8, tile_h=8)
    got = FindFlats(tr).to_array()
    assert np.array_equal(got, golden)


def test_fa_methods_tiling_invariant(spark):
    """FM-composed SFD accumulation is identical at any tiling (incl.
    Rho8's seeded per-cell RNG) — the cluster-size-invariance property."""
    from richdem_spark.api import FlowAccumulation

    dem = priority_flood_fill(_random_dem(23, 30, 30))
    for method in ("OCallaghanD8", "Rho8"):
        single = FlowAccumulation(
            raster_from_array(spark, dem, tile_w=64, tile_h=64), method
        ).to_array()
        tiled = FlowAccumulation(
            raster_from_array(spark, dem, tile_w=13, tile_h=9), method
        ).to_array()
        assert np.array_equal(single, tiled), method


def test_mfd_accumulation_single_tile(spark):
    from richdem_spark.api import FlowAccumulation
    from richdem_spark.kernels.flowmet import fm_quinn, prop_flow_accum

    dem = priority_flood_fill(_random_dem(29, 20, 20))
    golden = prop_flow_accum(fm_quinn(dem))
    tr = raster_from_array(spark, dem, tile_w=64, tile_h=64)
    got = FlowAccumulation(tr, "Quinn").to_array()
    assert np.allclose(got, golden)


@pytest.mark.parametrize("method", ["Quinn", "Freeman", "Holmgren",
                                    "Tarboton"])
def test_mfd_accumulation_distributed(spark, method):
    """Iterative seam-exchange MFD == single-grid oracle at any tiling
    (linearity of accumulation in its sources)."""
    from richdem_spark.api import FlowAccumulation
    from richdem_spark.kernels import flowmet as fmk

    dem = priority_flood_fill(_random_dem(31, 26, 23))
    fm = {
        "Quinn": fmk.fm_quinn,
        "Freeman": fmk.fm_freeman,
        "Holmgren": fmk.fm_holmgren,
        "Tarboton": fmk.fm_tarboton,
    }[method]
    golden = fmk.prop_flow_accum(fm(dem, None))
    tr = raster_from_array(spark, dem, tile_w=7, tile_h=10)
    got = FlowAccumulation(tr, method).to_array()
    assert np.allclose(got, golden, atol=1e-9), method


def test_dinf_directions_distributed(spark):
    from richdem_spark.api import FlowDirectionsDinf
    from richdem_spark.kernels.flowmet import dinf_flow_directions

    dem = priority_flood_fill(_random_dem(31, 24, 24))
    golden = dinf_flow_directions(dem)
    tr = raster_from_array(spark, dem, tile_w=7, tile_h=10)
    got = FlowDirectionsDinf(tr).to_array()
    assert np.allclose(got, golden)


def test_weighted_accumulation(spark):
    """weights raster == reference's weights argument; distributed
    two-round result must equal the kernel oracle at any tiling."""
    from richdem_spark.api import FlowAccumulationFromDirs

    dem = priority_flood_fill(_random_dem(41, 22, 27))
    dirs = d8_flow_directions(dem)
    rng = np.random.default_rng(8)
    w = rng.uniform(0.5, 2.0, dem.shape).round(3)
    golden = d8_flow_accum(dirs, weights=w)
    dirs_tr = raster_from_array(spark, dirs, tile_w=9, tile_h=8)
    w_tr = raster_from_array(spark, w, tile_w=9, tile_h=8)
    got = FlowAccumulationFromDirs(dirs_tr, weights=w_tr).to_array()
    assert np.allclose(got, golden, atol=1e-9)


def test_multi_tile_d4_epsilon_drainage(spark):
    """Multi-tile D4 epsilon fill: every interior cell must have a
    strictly-lower D4 neighbour (the epsilon drainage property), exact
    across tile seams."""
    from richdem_spark.api import FillDepressions
    from richdem_spark.constants import TOPO_D4
    from richdem_spark.kernels.fill import priority_flood_fill_pq
    from richdem_spark.tiles import raster_from_array

    rng = np.random.default_rng(55)
    dem = rng.integers(0, 40, (22, 26)).astype(np.float64)
    tr = raster_from_array(spark, dem, tile_w=8, tile_h=8)
    out = FillDepressions(tr, epsilon=True, topology=TOPO_D4).to_array()
    # same fill levels as the serial PF-epsilon up to nextafter chains
    # (the distributed path applies fill + D4 flats gradients, a valid
    # epsilon assignment; byte-equality only holds single-tile)
    golden = priority_flood_fill_pq(dem, None, TOPO_D4, epsilon=True)
    assert (out >= dem).all()
    assert float(np.abs(out - golden).max()) <= 1e-9
    lower = np.zeros(dem.shape, dtype=bool)
    for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
        h, w = dem.shape
        sl_d = (slice(max(0, -dy), h - max(0, dy)),
                slice(max(0, -dx), w - max(0, dx)))
        sl_s = (slice(max(0, dy), h - max(0, -dy)),
                slice(max(0, dx), w - max(0, -dx)))
        lower[sl_d] |= out[sl_s] < out[sl_d]
    assert lower[1:-1, 1:-1].all()


def test_executor_side_graph_solves(spark, monkeypatch):
    """Forcing the off-driver (single-partition executor) solve path must
    give identical fill and accumulation results."""
    import richdem_spark.ops.solve as solve_mod
    from richdem_spark.api import FillDepressions, FlowAccumulation
    from richdem_spark.tiles import raster_from_array

    rng = np.random.default_rng(13)
    dem = rng.integers(0, 50, (24, 24)).astype(np.float64)
    tr = raster_from_array(spark, dem, tile_w=8, tile_h=8)
    golden_fill = FillDepressions(tr).to_array()
    golden_acc = FlowAccumulation(
        FillDepressions(tr), "D8").to_array()
    monkeypatch.setattr(solve_mod, "DRIVER_SOLVE_MAX_ROWS", 0)
    got_fill = FillDepressions(tr).to_array()
    assert np.array_equal(got_fill, golden_fill)
    got_acc = FlowAccumulation(FillDepressions(tr), "D8").to_array()
    assert np.array_equal(got_acc, golden_acc)


def test_fill_nodata_dense_label_namespace(spark):
    """NoData-dense tiles mint one terminal label per NoData-adjacent
    drain root — the per-tile label namespace must hold them without
    cross-tile collisions (stride regression test)."""
    from richdem_spark.api import FillDepressions
    from richdem_spark.kernels.fill import priority_flood_fill_pq
    from richdem_spark.tiles import raster_from_array

    rng = np.random.default_rng(5150)
    dem = rng.integers(0, 30, (40, 44)).astype(np.float64)
    dem[rng.random(dem.shape) < 0.35] = -9.0
    golden = priority_flood_fill_pq(dem, -9.0)
    for tw, th in ((8, 8), (13, 11)):
        tr = raster_from_array(spark, dem, tile_w=tw, tile_h=th,
                               nodata=-9.0)
        assert np.array_equal(FillDepressions(tr).to_array(), golden), \
            (tw, th)


def test_convergence_telemetry(spark):
    """MFD and breach expose rounds / in-flight counts so production
    runs can observe seam-iteration convergence."""
    import numpy as np

    from richdem_spark.api import BreachDepressions, FlowAccumulation
    from richdem_spark.tiles import raster_from_array

    rng = np.random.default_rng(4)
    dem = rng.random((24, 24)) * 5 + np.arange(24)[None, :]
    tr = raster_from_array(spark, dem, tile_w=8, tile_h=8)

    m1: dict = {}
    FlowAccumulation(tr, "Quinn", metrics=m1).df.count()
    assert m1["rounds"] >= 0
    assert all(n > 0 for n in m1["inflight_per_round"])

    m2: dict = {}
    BreachDepressions(tr, metrics=m2).df.count()
    assert m2["carve_rounds"] >= 1
    assert len(m2["carve_live_per_round"]) == m2["carve_rounds"]
    assert m2["carve_live_per_round"][-1] == 0


def _reduce_edges(edges):
    """(a, b) -> min(z) over undirected label pairs."""
    red = {}
    for a, b, z in edges:
        k = (min(int(a), int(b)), max(int(a), int(b)))
        red[k] = min(red.get(k, np.inf), float(z))
    return red


def test_label_edges_match_brute_force(spark):
    """Fill's label graph (``_label_edges`` over the round-1 perimeter
    rows) must equal a brute-force one: round 1's in-tile edges plus
    every cross-tile 8-neighbour pair with different labels, at the
    higher filled elevation of the pair, reduced to (a, b) -> min(z) —
    on random DEMs, ragged tilings, and NoData holes."""
    import richdem_spark.ops.fill as fm

    rng = np.random.default_rng(21)
    for trial, (h, w, tw, th, nd) in enumerate([
        (24, 24, 8, 8, None),
        (30, 22, 7, 9, None),
        (26, 26, 8, 8, -9999.0),
    ]):
        dem = np.round(rng.random((h, w)) * 20) / 2.0
        if nd is not None:
            dem[10:16, 9:14] = nd
        tr = raster_from_array(spark, dem, tw, th, nodata=nd)
        r1 = tr.df.mapInPandas(
            fm._round1(tr.meta, "D8", None), fm._R1_SCHEMA).persist()
        perim = list(r1.select(*fm._PERIM_COLS).toPandas()
                     .itertuples(index=False))
        got = _reduce_edges(fm._label_edges(perim, "D8"))

        labels = np.zeros((h, w), dtype=np.int64)
        filled = np.zeros((h, w))
        tile = np.zeros((h, w), dtype=np.int64)
        edges = []
        for r in r1.collect():
            ys = slice(r.tile_y * th, r.tile_y * th + r.height)
            xs = slice(r.tile_x * tw, r.tile_x * tw + r.width)
            labels[ys, xs] = np.frombuffer(r.labels, np.int64).reshape(
                r.height, r.width)
            filled[ys, xs] = np.frombuffer(r.data, np.float64).reshape(
                r.height, r.width)
            tile[ys, xs] = r.tile_y * tr.meta.ntiles_x + r.tile_x
            edges.extend(zip(r.edge_a, r.edge_b, r.edge_z))
        for dy, dx in ((0, 1), (1, -1), (1, 0), (1, 1)):
            for y in range(h - dy):
                for x in range(max(0, -dx), min(w, w - dx)):
                    y2, x2 = y + dy, x + dx
                    if (tile[y, x] != tile[y2, x2]
                            and labels[y, x] != labels[y2, x2]):
                        edges.append((labels[y, x], labels[y2, x2],
                                      max(filled[y, x], filled[y2, x2])))
        assert got == _reduce_edges(edges), f"trial {trial}"
        r1.unpersist()


def _count_solve_entries(monkeypatch, *mods):
    """Wrap each op module's per-tile solve so a driver-placed solve
    records how many entries (the first result array, summed over
    tiles) it returns."""
    counts = {}
    for mod in mods:
        def counting(r1, cols, solve_fn, schema, est,
                     _name=mod.__name__, _orig=mod.solve_per_tile):
            def fn(rows):
                out = solve_fn(rows)
                counts[_name] = sum(len(t[2]) for t in out)
                return out
            return _orig(r1, cols, fn, schema, est)
        monkeypatch.setattr(mod, "solve_per_tile", counting)
    return counts


def test_large_solves_match_kernels_on_both_placements(spark, monkeypatch):
    """Fill and D8 accumulation solves with more than 10,000 per-tile
    entries (water levels, inflow offsets) give the single-grid answer
    with the solve on the driver and on an executor."""
    import richdem_spark.ops.accum as accum_mod
    import richdem_spark.ops.fill as fill_mod
    import richdem_spark.ops.solve as solve_mod

    rng = np.random.default_rng(29)
    dem = rng.integers(0, 100, (340, 340)).astype(np.float64)
    want_fill = priority_flood_fill(dem)
    want_acc = d8_flow_accum(d8_flow_directions(want_fill))
    tr = raster_from_array(spark, dem, tile_w=5, tile_h=5)

    def run():
        filled = FillDepressions(tr)
        return filled.to_array(), FlowAccumulation(filled, "D8").to_array()

    counts = _count_solve_entries(monkeypatch, fill_mod, accum_mod)
    on_driver = run()
    assert counts[fill_mod.__name__] > 10_000, counts
    assert counts[accum_mod.__name__] > 10_000, counts
    monkeypatch.undo()
    monkeypatch.setattr(solve_mod, "DRIVER_SOLVE_MAX_ROWS", 0)
    for got_fill, got_acc in (on_driver, run()):
        assert np.array_equal(got_fill, want_fill)
        assert np.array_equal(got_acc, want_acc)


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _broadcast_solve_results(tr) -> int:
    """Broadcast-hinted subtrees of the analyzed plan that are a global
    solve's result: the first mapInPandas on some path below the hint
    reads a single-partition repartition."""
    def first_maps(node):
        if node.nodeName() == "MapInPandas":
            return [node]
        return [m for c in _children(node) for m in first_maps(c)]

    found = 0
    stack = [tr.df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if (node.nodeName() == "ResolvedHint"
                and "broadcast" in node.hints().toString()):
            found += sum(
                m.child().nodeName() == "Repartition"
                and m.child().numPartitions() == 1
                for m in first_maps(node.child()))
        stack.extend(_children(node))
    return found


def test_executor_solve_result_is_not_broadcast(spark, monkeypatch):
    """An executor-placed solve result reaches round 2 by a plain left
    join: the analyzed plans of fill's and accumulation's output hold
    no broadcast hint on it, so the driver never collects it."""
    import richdem_spark.ops.solve as solve_mod

    rng = np.random.default_rng(31)
    tr = raster_from_array(
        spark, rng.integers(0, 50, (24, 24)).astype(np.float64), 8, 8)
    monkeypatch.setattr(solve_mod, "DRIVER_SOLVE_MAX_ROWS", 0)
    filled = FillDepressions(tr)
    assert _broadcast_solve_results(filled) == 0
    assert _broadcast_solve_results(FlowAccumulation(filled, "D8")) == 0


def test_executor_placement_persists_nothing_extra(spark, monkeypatch):
    """Fill -> accumulation pins the same number of cached RDDs whether
    the solves run on the driver or on an executor."""
    import richdem_spark.ops.solve as solve_mod

    jsc = spark.sparkContext._jsc

    def new_persisted(seed):
        # a fresh DEM per run, so no plan is already cached
        dem = np.random.default_rng(seed).integers(0, 50, (24, 24))
        tr = raster_from_array(spark, dem.astype(np.float64), 8, 8)
        before = set(jsc.getPersistentRDDs().keys())
        FlowAccumulation(FillDepressions(tr), "D8").to_array()
        return len(set(jsc.getPersistentRDDs().keys()) - before)

    on_driver = new_persisted(41)
    monkeypatch.setattr(solve_mod, "DRIVER_SOLVE_MAX_ROWS", 0)
    assert new_persisted(42) == on_driver


def test_driver_solve_bound_follows_jvm_heap(spark):
    """Without the test hook, the driver-placement bound is derived from
    the driver JVM's max heap, never below 1 M rows."""
    import richdem_spark.ops.solve as solve_mod

    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime() \
        .maxMemory()
    assert solve_mod.DRIVER_SOLVE_MAX_ROWS is None
    assert solve_mod.driver_solve_max(spark) == max(1_000_000, heap // 1500)


def _breach(tr):
    from richdem_spark.api import BreachDepressions

    return [BreachDepressions(tr).to_array()]


def _hierarchy(tr):
    from richdem_spark.api import GetDepressionHierarchy

    deps, labels, flowdirs = GetDepressionHierarchy(tr)
    return [np.array([(d.parent, d.cell_count, d.pit_elev, d.out_elev)
                      for d in deps]),
            labels.to_array(), flowdirs.to_array()]


@pytest.mark.parametrize("op", [_breach, _hierarchy])
def test_multi_tile_float32_matches_float64(spark, op):
    """Halo pieces are pasted in the tiles' own dtype: a float32 DEM
    over several tiles gives what the same DEM cast to float64 gives."""
    rng = np.random.default_rng(5)
    dem = (rng.standard_normal((20, 20)).cumsum(0).cumsum(1) * 10
           ).astype(np.float32)
    got = op(raster_from_array(spark, dem, 8, 8))
    want = op(raster_from_array(spark, dem.astype(np.float64), 8, 8))
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)
