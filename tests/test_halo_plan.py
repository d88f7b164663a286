"""Plan-shape guarantees for the halo exchange at the 100 TB regime.

Above ``HALO_BROADCAST_MAX_BYTES`` the strip broadcast is off and the
halo join must rely on co-partitioning: every tile table carries the
canonical ``hash(tile_x, tile_y)`` partitioning, so the sort-merge join
plans its ENSURE_REQUIREMENTS exchange ONLY on the O(perimeter) strip
side — tile interiors (the ``data`` blobs) never move.  These tests pin
that plan shape and the fallback path's result equality.
"""

from contextlib import contextmanager

import numpy as np
import pytest

import richdem_spark.tiles as T


@contextmanager
def no_auto_broadcast(spark):
    """Pin the at-scale plan: with huge strip stats Catalyst would never
    auto-broadcast, so turn the threshold off while checking shapes."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _tile_branch(plan: str) -> str:
    """The left (tile-side) child of the first SortMergeJoin: the lines
    between the join node and its second child's Sort."""
    lines = plan.splitlines()
    start = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln)
    branch = []
    for ln in lines[start + 1:]:
        if ln.lstrip().startswith("+- Sort"):
            break
        branch.append(ln)
    return "\n".join(branch)


def test_halo_fallback_no_tile_side_exchange(spark, monkeypatch):
    monkeypatch.setattr(T, "HALO_BROADCAST_MAX_BYTES", 0)
    arr = np.arange(144.0).reshape(12, 12)
    tr = T.raster_from_array(spark, arr, tile_w=4, tile_h=4)
    with no_auto_broadcast(spark):
        joined = T.halo_join(tr)
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the ONLY requirement-driven exchange is the strip groupBy; the
    # tile side keeps its canonical partitioning (its single exchange
    # is the creation-time REPARTITION, absent for checkpointed /
    # bucketed tables)
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
    assert "ENSURE_REQUIREMENTS" not in _tile_branch(plan), plan


def test_halo_fallback_matches_broadcast_path(spark, monkeypatch):
    rng = np.random.default_rng(7)
    arr = rng.random((13, 11))  # ragged tiling on purpose
    tr = T.raster_from_array(spark, arr, tile_w=4, tile_h=5)

    def collect_halos(df):
        out = {}
        for r in df.collect():
            halo = (sorted((s["slot"], bytes(s["strip"])) for s in r.halo)
                    if r.halo is not None else None)
            out[(r.tile_x, r.tile_y)] = halo
        return out

    want = collect_halos(T.halo_join(tr))
    monkeypatch.setattr(T, "HALO_BROADCAST_MAX_BYTES", 0)
    got = collect_halos(T.halo_join(tr))
    assert got == want


def test_halo_join_py4j_budget(spark, monkeypatch):
    """halo_join, and the two-plane exchange flats runs every BFS round,
    build their plans in a bounded number of Py4J commands.  Each
    Column-API call is a round trip, and Spark's call-site capture adds
    more; a per-piece F.col/F.lit/F.struct build took over 1,100."""
    from py4j.clientserver import ClientServerConnection

    from richdem_spark.ops.flats import _DIST_PLANES

    tr = T.raster_from_array(spark, np.arange(144.0).reshape(12, 12),
                             tile_w=4, tile_h=4)
    hi = np.arange(144, dtype=np.int64).reshape(12, 12)
    lo = hi[::-1].copy()
    dist = spark.createDataFrame(
        [(tx, ty, 4, 4, T.pack(hi[win]), T.pack(lo[win]),
          *T.border_strips(hi[win], lo[win]))
         for ty in range(3) for tx in range(3)
         for win in [np.s_[ty * 4:ty * 4 + 4, tx * 4:tx * 4 + 4]]],
        ["tile_x", "tile_y", "width", "height", "dist_hi", "dist_lo",
         *T.HALO_STRIP_COLS])
    send = ClientServerConnection.send_command

    def commands(build):
        sent = []

        def counting(self, command, *args, **kwargs):
            sent.append(command)
            return send(self, command, *args, **kwargs)

        monkeypatch.setattr(ClientServerConnection, "send_command",
                            counting)
        build()
        monkeypatch.undo()
        return len(sent)

    n = commands(lambda: T.halo_join(tr))
    assert 0 < n <= 100, n
    n = commands(lambda: T.halo_exchange(dist, tr.meta, _DIST_PLANES))
    assert 0 < n <= 100, n


def test_bucketed_table_zero_exchange_tile_side(spark, monkeypatch):
    """write_raster_table -> read_raster_table: the bucketed scan feeds
    the (non-broadcast) halo join with NO exchange at all on the tile
    side — the persistent/Iceberg-shaped substrate."""
    arr = np.arange(96.0).reshape(12, 8)
    tr = T.raster_from_array(spark, arr, tile_w=4, tile_h=4, nodata=-9.0)
    name = "halo_bucket_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        T.write_raster_table(tr, name)
        back = T.read_raster_table(spark, name)
        assert back.meta.nodata == -9.0
        assert back.meta.width == 8 and back.meta.height == 12
        np.testing.assert_array_equal(back.to_array(), arr)

        monkeypatch.setattr(T, "HALO_BROADCAST_MAX_BYTES", 0)
        with no_auto_broadcast(spark):
            joined = T.halo_join(back)
            plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in _tile_branch(plan), plan
        # and the halo contents equal the in-memory raster's
        rows = {(r.tile_x, r.tile_y): r.halo is not None
                for r in joined.collect()}
        assert all(rows.values())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_fill_keeps_input_partitioning(spark):
    """Fill's round 2 is one mapInPandas over round 1 on every tile, so
    the output carries the input's partitioning even when only some
    tiles are raised — no pass-through union doubling the partition
    count for every downstream per-tile stage."""
    from richdem_spark.api import FillDepressions
    from richdem_spark.kernels.fill import priority_flood_fill

    # a ramp draining to the west edge, plus a pit straddling the four
    # tiles around (2..3, 1..2): those are raised, the west ones not
    dem = np.tile(np.arange(16.0) + 10.0, (16, 1))
    dem[4:12, 9:15] = 5.0
    want = priority_flood_fill(dem)
    tiles_changed = {
        (tx, ty): bool((want[ty * 4:ty * 4 + 4, tx * 4:tx * 4 + 4]
                        != dem[ty * 4:ty * 4 + 4,
                               tx * 4:tx * 4 + 4]).any())
        for tx in range(4) for ty in range(4)
    }
    assert any(tiles_changed.values()) and not all(tiles_changed.values())

    tr = T.raster_from_array(spark, dem, tile_w=4, tile_h=4)
    out = FillDepressions(tr)
    assert (out.df.rdd.getNumPartitions()
            == tr.df.rdd.getNumPartitions())
    np.testing.assert_array_equal(out.to_array(), want)
