"""Oracle for the one halo exchange (tiles.halo_exchange + pad_planes):
every tile's padded view equals the matching window of the global
arrays, on every plane, at depth 1 (carried strips, JVM cut) and depth 8
(Python cut), on both ship paths.  Padding appears only on sides with a
neighbour tile, as deep as that neighbour allows."""

import numpy as np
import pytest

import richdem_spark.tiles as T

# (tile_w, tile_h, width, height): tiles thinner than depth 8 on one
# axis, and a ragged last row and column of tiles
TILINGS = {"7x10": (7, 10, 23, 26), "16x3": (16, 3, 37, 20)}

# plane sets: (Plane, fill) over mixed dtypes and a trailing cell axis
PLANES = {
    "f64+u8": [(T.Plane("a", "float64"), np.inf),
               (T.Plane("b", "uint8"), 0)],
    "f32x9": [(T.Plane("p", "float32", (9,)), 0.0)],
}


def _frame(spark, tiling, planes):
    tw, th, W, H = tiling
    meta = T.RasterMeta(width=W, height=H, tile_w=tw, tile_h=th)
    rng = np.random.default_rng(11)
    glob = {
        p.col: (rng.random((H, W) + p.shape) * 200).astype(p.dtype)
        for p, _ in planes
    }
    rows = []
    for ty in range(meta.ntiles_y):
        for tx in range(meta.ntiles_x):
            win = np.s_[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
            arrs = [glob[p.col][win] for p, _ in planes]
            h, w = arrs[0].shape[:2]
            rows.append((tx, ty, w, h, *[T.pack(a) for a in arrs],
                         *T.border_strips(*arrs)))
    cols = ["tile_x", "tile_y", "width", "height",
            *[p.col for p, _ in planes], *T.HALO_STRIP_COLS]
    return spark.createDataFrame(rows, cols), meta, glob


def _check(rows, meta, planes, glob, k):
    assert len(rows) == meta.ntiles_x * meta.ntiles_y
    for r in rows:
        tx, ty, w, h = r.tile_x, r.tile_y, r.width, r.height
        cores = [np.frombuffer(getattr(r, p.col), p.dtype)
                 .reshape(h, w, *p.shape) for p, _ in planes]
        padded, pt, pl = T.pad_planes(cores, r.halo,
                                      [f for _, f in planes])

        def side(dx, dy, axis):
            nx, ny = tx + dx, ty + dy
            if not (0 <= nx < meta.ntiles_x and 0 <= ny < meta.ntiles_y):
                return 0
            return min(k, meta.tile_dims(nx, ny)[axis])

        assert (pt, pl) == (side(0, -1, 1), side(-1, 0, 0))
        pb, pr = side(0, 1, 1), side(1, 0, 0)
        y0, x0 = ty * meta.tile_h, tx * meta.tile_w
        for (p, _), got in zip(planes, padded):
            want = glob[p.col][y0 - pt:y0 + h + pb, x0 - pl:x0 + w + pr]
            assert got.dtype == np.dtype(p.dtype)
            np.testing.assert_array_equal(got, want, err_msg=str((tx, ty)))


@pytest.mark.parametrize("tiling", sorted(TILINGS))
@pytest.mark.parametrize("plane_set", sorted(PLANES))
@pytest.mark.parametrize("k", [1, 8])
def test_halo_exchange_matches_global_windows(spark, monkeypatch, k,
                                              plane_set, tiling):
    planes = PLANES[plane_set]
    df, meta, glob = _frame(spark, TILINGS[tiling], planes)
    specs = [p for p, _ in planes]

    _check(T.halo_exchange(df, meta, specs, k).collect(),
           meta, planes, glob, k)

    # co-partitioned ship path: no broadcast of the pieces
    monkeypatch.setattr(T, "HALO_BROADCAST_MAX_BYTES", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = T.halo_exchange(df, meta, specs, k)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        rows = joined.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan and "Broadcast" not in plan, plan
    _check(rows, meta, planes, glob, k)


def test_pad_planes_rejects_mismatched_piece():
    """A piece whose bytes are not whole cells of the planes (e.g. read
    with the wrong dtype) fails loudly instead of padding garbage."""
    core = np.zeros((2, 3))
    f32_row = np.zeros(3, np.float32).tobytes()
    with pytest.raises(ValueError, match="slot 3"):
        T.pad_planes([core], [{"slot": 3, "strip": f32_row}], [0.0])
    n_row = {"slot": 3, "strip": np.zeros(3).tobytes()}
    w_col = {"slot": 1, "strip": np.zeros(2).tobytes()}
    with pytest.raises(ValueError, match="slot 2"):
        T.pad_planes([core], [n_row, w_col,
                              {"slot": 2, "strip": f32_row}], [0.0])
