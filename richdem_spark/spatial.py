"""Spatial joins on the shared cell index (north_rule): point-in-polygon
watershed assignment, kNN pour-point matching, raster<->vector pairing.

All joins are **cell-key equi-joins + in-cell refinement**: the big side
(pages) is keyed by spatial-index cell; the small side (polygons / pour
points) is exploded into its covering cells and broadcast.  Skewed cells
(cities) are handled by AQE skew-join plus the salted aggregation in
webtext.rasterize_pages.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .spatial_index import cell_id, cell_to_xy, lonlat_to_bins  # noqa: F401 (public re-exports)
from .tiles import TiledRaster, unpack


# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------

def point_in_polygon(px: np.ndarray, py: np.ndarray,
                     ring_x: np.ndarray, ring_y: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: True where (px,py) inside ring."""
    inside = np.zeros(px.shape, dtype=bool)
    n = len(ring_x)
    for i in range(n):
        x1, y1 = ring_x[i], ring_y[i]
        x2, y2 = ring_x[(i + 1) % n], ring_y[(i + 1) % n]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= cond & (px < xin)
    return inside


def polygon_cover_cells(ring_lon, ring_lat, level: int) -> list[int]:
    """Index cells covering a polygon's bbox (coarse cover; refinement is
    the exact PIP test)."""
    x0, y0 = lonlat_to_bins(min(ring_lon), max(ring_lat), level)
    x1, y1 = lonlat_to_bins(max(ring_lon), min(ring_lat), level)
    out = []
    from .spatial_index import _spread_bits

    for yy in range(int(y0), int(y1) + 1):
        for xx in range(int(x0), int(x1) + 1):
            m = int(_spread_bits(np.array([xx], np.uint64))[0]) | (
                int(_spread_bits(np.array([yy], np.uint64))[0]) << 1
            )
            out.append((level << 58) | m)
    return out


def assign_points_to_polygons(
    points: DataFrame,  # (…, lat, lon)
    polygons: list[dict],  # [{'id': int, 'lon': [...], 'lat': [...]}]
    level: int = 6,
    point_id_col: str = "url",
) -> DataFrame:
    """PIP assignment: broadcast cell->candidate-polygon table, equi-join
    on the point's cell, refine with the exact ray cast in a vectorized
    pandas stage.  Returns (point_id, polygon_id)."""
    spark = points.sparkSession
    cover_rows = []
    for p in polygons:
        for c in polygon_cover_cells(p["lon"], p["lat"], level):
            cover_rows.append((int(np.int64(np.uint64(c) & np.uint64(
                0x7FFFFFFFFFFFFFFF))), int(p["id"])))
    cover = spark.createDataFrame(
        cover_rows, StructType([
            StructField("cell", LongType(), False),
            StructField("polygon_id", IntegerType(), False),
        ])
    )
    polys_b = {int(p["id"]): (np.asarray(p["lon"], float),
                              np.asarray(p["lat"], float))
               for p in polygons}

    @F.pandas_udf(LongType())
    def cell_of(lon: pd.Series, lat: pd.Series) -> pd.Series:
        c = cell_id(lon.to_numpy(), lat.to_numpy(), level)
        return pd.Series((c & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(
            np.int64))

    pts = points.withColumn("cell", cell_of("lon", "lat"))
    cand = pts.join(F.broadcast(cover), "cell")

    schema = StructType([
        StructField("point_id", cand.schema[point_id_col].dataType, False),
        StructField("polygon_id", IntegerType(), False),
    ])
    bpolys = spark.sparkContext.broadcast(polys_b)

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pb = bpolys.value
        for pdf in it:
            keep_id, keep_poly = [], []
            for pid, grp in pdf.groupby("polygon_id"):
                lon_r, lat_r = pb[int(pid)]
                ins = point_in_polygon(
                    grp["lon"].to_numpy(), grp["lat"].to_numpy(),
                    lon_r, lat_r,
                )
                keep_id.extend(grp[point_id_col].to_numpy()[ins].tolist())
                keep_poly.extend([int(pid)] * int(ins.sum()))
            yield pd.DataFrame({"point_id": keep_id,
                                "polygon_id": keep_poly})

    return cand.select(point_id_col, "lon", "lat", "polygon_id") \
        .mapInPandas(refine, schema)


# ---------------------------------------------------------------------------
# kNN pour-point matching
# ---------------------------------------------------------------------------

def knn_join(
    points: DataFrame,  # big side: (…, lat, lon)
    sites: list[tuple[int, float, float]],  # (site_id, lat, lon) small side
    k: int = 3,
    point_id_col: str = "url",
) -> DataFrame:
    """k nearest sites per point.  The site table is tiny (pour points =
    depression outlets), so it is broadcast whole and the per-point top-k
    is computed vectorized — the cell-index variant
    :func:`knn_join_cells` only pays off once |sites| no longer fits an
    executor broadcast."""
    spark = points.sparkSession
    arr = np.array([(s[1], s[2]) for s in sites],
                   dtype=np.float64).reshape(-1, 2)
    ids = np.array([s[0] for s in sites], dtype=np.int64)
    b = spark.sparkContext.broadcast((arr, ids))

    schema = StructType([
        StructField("point_id", points.schema[point_id_col].dataType,
                    False),
        StructField("site_id", LongType(), False),
        StructField("rank", IntegerType(), False),
        StructField("dist_deg", DoubleType(), False),
    ])

    kk = k

    def topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sarr, sids = b.value
        for pdf in it:
            lat = pdf["lat"].to_numpy()[:, None]
            lon = pdf["lon"].to_numpy()[:, None]
            d2 = (lat - sarr[None, :, 0]) ** 2 + (
                lon - sarr[None, :, 1]) ** 2
            kuse = min(kk, d2.shape[1])
            rows = {"point_id": [], "site_id": [], "rank": [],
                    "dist_deg": []}
            for r in range(d2.shape[0]):
                # deterministic ties: (distance, site_id) order.  A bare
                # argpartition prefilter is not tie-safe (candidates tied
                # at the k-th distance get picked arbitrarily), so widen
                # it: partition at k, then include EVERY site at <= the
                # k-th distance and lexsort only that candidate set —
                # O(S + C log C) per row instead of O(S log S).
                dr = d2[r]
                if len(dr) > kuse:
                    part = np.argpartition(dr, kuse - 1)
                    kth = dr[part[kuse - 1]]
                    cand = np.flatnonzero(dr <= kth)
                else:
                    cand = np.arange(len(dr))
                order = cand[np.lexsort((sids[cand], dr[cand]))][:kuse]
                for rank, j in enumerate(order):
                    rows["point_id"].append(pdf[point_id_col].iloc[r])
                    rows["site_id"].append(int(sids[j]))
                    rows["rank"].append(rank + 1)
                    rows["dist_deg"].append(float(np.sqrt(d2[r][j])))
            yield pd.DataFrame(rows)

    return points.select(point_id_col, "lat", "lon").mapInPandas(
        topk, schema)


# ---------------------------------------------------------------------------
# raster <-> vector pairing
# ---------------------------------------------------------------------------

def pair_points_with_raster(
    points_geo: DataFrame, tr: TiledRaster, value_name: str = "value"
) -> DataFrame:
    """Join each geocoded point with the raster cell value under it —
    pages⋈DEM pairing on the shared grid.  Equi-join on the tile key; the
    raster side ships one blob per tile."""
    m = tr.meta
    n = m.width
    gx = F.least(F.greatest(F.floor((F.col("lon") + 180.0) / 360.0 * n)
                            .cast("long"), F.lit(0)), F.lit(n - 1))
    gy = F.least(F.greatest(F.floor((90.0 - F.col("lat")) / 180.0 *
                                    m.height).cast("long"), F.lit(0)),
                 F.lit(m.height - 1))
    pts = points_geo.withColumn("gx", gx).withColumn("gy", gy)
    pts = pts.withColumn("tile_x", (F.col("gx") / m.tile_w).cast("int")) \
             .withColumn("tile_y", (F.col("gy") / m.tile_h).cast("int"))
    joined = pts.join(tr.df, ["tile_x", "tile_y"])

    out_fields = [f for f in points_geo.schema.fields]
    schema = StructType(out_fields + [StructField(value_name, DoubleType(),
                                                  True)])
    src_cols = [f.name for f in points_geo.schema.fields]
    tw, th = m.tile_w, m.tile_h

    def sample(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            vals = np.empty(len(pdf))
            for (txv, tyv), grp in pdf.groupby(["tile_x", "tile_y"]):
                r0 = grp.iloc[0]
                a = unpack(r0["data"], r0["height"], r0["width"],
                           r0["dtype"])
                lx = grp["gx"].to_numpy() - txv * tw
                ly = grp["gy"].to_numpy() - tyv * th
                vals[grp.index.to_numpy()] = a[ly, lx]
            out = pdf[src_cols].copy()
            out[value_name] = vals
            yield out

    return joined.mapInPandas(sample, schema)


# ---------------------------------------------------------------------------
# kNN at scale: cell histogram -> driver cell-pair plan -> one join
# ---------------------------------------------------------------------------

def knn_join_cells(
    points: DataFrame,            # (…, lat, lon)
    sites: DataFrame,             # (site_id, lat, lon) — may be huge
    k: int = 3,
    level: int = 6,
    point_id_col: str = "url",
    site_id_col: str = "site_id",
) -> DataFrame:
    """k nearest sites per point for site tables too large to broadcast.

    Both sides key by their level-``level`` grid cell, a cell whose
    closed lon/lat rectangle contains the row; the key is not clamped,
    so an out-of-range coordinate keeps this property.  Three steps:

    1. **Histogram.** One aggregation collects the occupied point cells
       and the site count of every occupied site cell.
    2. **Plan.** For each point cell ``c`` the driver computes ``U(c)``,
       the smallest rectangle-to-rectangle *max* distance from ``c`` at
       which the site cells hold >= k sites.  Every point of ``c`` lies
       within ``U(c)`` of each of those sites, so ``U(c)`` is a certified
       upper bound on its k-th neighbour distance, and a site cell whose
       rectangle *min* distance from ``c`` exceeds it cannot hold a
       top-k site.  The plan keeps every other occupied site cell, with
       a tiny relative slack so that rounding can only add candidates,
       never drop a tied one.  With fewer than k sites in all, ``U(c)``
       is infinite.  The plan is built in blocks of point cells, so
       driver memory is O(block x occupied site cells).
    3. **Join and rank.** Each site joins the broadcast plan on its
       cell, which keys it by every point cell that needs it; the points
       join on their own cell.  A window over (cell, point) ranks each
       point's candidates by (squared distance, site_id), the tie rule
       of the broadcast :func:`knn_join`, and keeps ``rank <= k``.  The
       window partitions on the join key, so ranking adds no shuffle.

    The bound is exact, so no point needs a second pass: whatever the
    data, the function runs one histogram aggregation and one
    join-and-rank query, and pins no checkpoint."""
    from pyspark.sql.window import Window

    n_cells = 1 << level
    cw, ch = 360.0 / n_cells, 180.0 / n_cells
    bx = F.floor((F.col("lon") + 180.0) / 360.0 * n_cells)
    by = F.floor((F.col("lat") + 90.0) / 180.0 * n_cells)
    pts = points.select(
        F.col(point_id_col).alias("point_id"), "lat", "lon",
        bx.alias("cx"), by.alias("cy"),
    )
    st = sites.select(
        F.col(site_id_col).alias("site_id"),
        F.col("lat").alias("slat"), F.col("lon").alias("slon"),
        bx.alias("scx"), by.alias("scy"),
    )

    # 1. histogram: (cx, cy, points in cell, sites in cell)
    hist = (
        pts.select("cx", "cy", F.lit(1).alias("p"), F.lit(0).alias("s"))
        .unionByName(st.select(F.col("scx").alias("cx"),
                               F.col("scy").alias("cy"),
                               F.lit(0).alias("p"), F.lit(1).alias("s")))
        .groupBy("cx", "cy").agg(F.sum("p"), F.sum("s"))
        .dropna()
        .collect()
    )
    h = np.array([tuple(r) for r in hist], dtype=np.int64).reshape(-1, 4)
    pcells = h[h[:, 2] > 0, :2]
    scells, cnt = h[h[:, 3] > 0, :2], h[h[:, 3] > 0, 3]

    # 2. plan: (cx, cy, scx, scy) for every site cell within U(c)
    plan = [np.empty((0, 4), dtype=np.int64)]
    block = max(1, (1 << 20) // max(1, len(scells)))
    for i in range(0, len(pcells), block):
        c = pcells[i:i + block]
        dx = np.abs(c[:, None, 0] - scells[None, :, 0])
        dy = np.abs(c[:, None, 1] - scells[None, :, 1])
        far = np.hypot((dx + 1) * cw, (dy + 1) * ch)
        near = np.hypot(np.maximum(dx - 1, 0) * cw,
                        np.maximum(dy - 1, 0) * ch)
        if cnt.sum() < k:
            u = np.full(len(c), np.inf)
        else:
            order = np.argsort(far, axis=1)
            first = (np.cumsum(cnt[order], axis=1) < k).sum(axis=1)
            u = far[np.arange(len(c)), order[np.arange(len(c)), first]]
        ci, si = np.nonzero(near <= u[:, None] * (1 + 1e-9))
        plan.append(np.column_stack([c[ci], scells[si]]))
    plan_df = points.sparkSession.createDataFrame(
        pd.DataFrame(np.concatenate(plan),
                     columns=["cx", "cy", "scx", "scy"]),
        "cx long, cy long, scx long, scy long")

    # 3. one join and rank.  Ranking on the squared distance, as knn_join
    # does, keeps the tie rule exact: sqrt can map two squares to one
    # double.
    d2 = ((F.col("lat") - F.col("slat")) ** 2
          + (F.col("lon") - F.col("slon")) ** 2)
    w_rank = Window.partitionBy("cx", "cy", "point_id").orderBy(
        "d2", "site_id")
    return (
        pts.join(st.join(F.broadcast(plan_df), ["scx", "scy"]), ["cx", "cy"])
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("point_id", "site_id", "rank",
                F.sqrt("d2").alias("dist_deg"))
    )
