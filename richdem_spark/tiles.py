"""Tile-table substrate: the engine's native representation of a raster.

A raster is a DataFrame with one row per tile, :data:`TILE_SCHEMA`::

    tile_x:int, tile_y:int, width:int, height:int, dtype:string,
    nodata:double, data:binary   (row-major NumPy blob),
    hs_n, hs_s, hs_w, hs_e:binary (border strips of data, same dtype)

plus a driver-side :class:`RasterMeta` handle carrying grid-level metadata
(the reference's geotransform/projection/PROCESSING_HISTORY,
``include/richdem/common/Array2D.hpp:92-96,1152-1158``) and the tile-grid
shape.  Tiles are the unit of parallelism — the Spark analogue of the
reference's ``TileInfo`` grid
(``programs/parallel_priority_flood/main.cpp:66-116``).

Every tile row is built by :func:`tile_frame`, so the strips always
exist and always match ``data``; :func:`halo_join` reads only the
strips.  Tables read back from disk are checked for every column.  The
halo exchange of every operator, at any depth and over any planes, is
:func:`halo_exchange` plus :func:`pad_planes`.

Scale notes (100 TB design):

* the tile key ``(tile_y, tile_x)`` is the partition key everywhere; all
  per-tile kernels are ``mapInPandas`` (no shuffle), and every cross-tile
  operator exchanges **O(perimeter) seam strips only** — interiors are
  never shuffled (mirrors the reference's perimeter-only serialization,
  ``programs/parallel_d8_accum/perimeters.hpp:44-62``).
* at sandbox scale the DataFrames read from parquet; on a cluster the same
  schema is an Iceberg table partitioned by ``(tile_y, tile_x)`` giving
  partition pruning for window reads (``Array2D.hpp:133-188`` semantics).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .constants import D8X, D8Y, GRID_BOTTOM, GRID_LEFT, GRID_RIGHT, GRID_TOP

# Border strips of ``data``: N row, S row, W column, E column, same
# dtype.  Every tile row carries them, so :func:`halo_join` assembles the
# halo exchange from these small columns in the JVM and never reads a
# tile blob or runs a Python pass.  :func:`tile_frame` slices them from
# the array it packs, so they always match ``data``.
HALO_STRIP_COLS = ("hs_n", "hs_s", "hs_w", "hs_e")

TILE_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("dtype", StringType(), False),
        StructField("nodata", DoubleType(), True),
        StructField("data", BinaryType(), False),
    ]
    + [StructField(c, BinaryType(), False) for c in HALO_STRIP_COLS]
)

TILE_COLS = tuple(f.name for f in TILE_SCHEMA.fields)


@dataclass
class RasterMeta:
    """Driver-side raster catalog entry."""

    width: int
    height: int
    tile_w: int
    tile_h: int
    nodata: float | None = None
    dtype: str = "float64"
    geotransform: tuple = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    projection: str = ""
    history: list[str] = field(default_factory=list)

    @property
    def ntiles_x(self) -> int:
        return (self.width + self.tile_w - 1) // self.tile_w

    @property
    def ntiles_y(self) -> int:
        return (self.height + self.tile_h - 1) // self.tile_h

    @property
    def cell_length_x(self) -> float:
        return abs(self.geotransform[1])

    @property
    def cell_length_y(self) -> float:
        return abs(self.geotransform[5])

    @property
    def cell_area(self) -> float:
        return self.cell_length_x * self.cell_length_y

    def tile_dims(self, tx: int, ty: int) -> tuple[int, int]:
        w = min(self.tile_w, self.width - tx * self.tile_w)
        h = min(self.tile_h, self.height - ty * self.tile_h)
        return w, h

    def edge_mask(self, tx: int, ty: int) -> int:
        m = 0
        if tx == 0:
            m |= GRID_LEFT
        if ty == 0:
            m |= GRID_TOP
        if tx == self.ntiles_x - 1:
            m |= GRID_RIGHT
        if ty == self.ntiles_y - 1:
            m |= GRID_BOTTOM
        return m

    def with_history(self, op: str) -> "RasterMeta":
        """Append a lineage record (the reference's PROCESSING_HISTORY,
        Array2D.hpp:1134-1147)."""
        stamp = f"{datetime.now(timezone.utc).isoformat()} | {op}"
        return replace(self, history=[*self.history, stamp])


def pack(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr).tobytes()


def unpack(blob: bytes, h: int, w: int, dtype: str) -> np.ndarray:
    return np.frombuffer(blob, dtype=np.dtype(dtype)).reshape(h, w)


def _tile_columns(rows) -> dict[str, list]:
    cols: dict[str, list] = {c: [] for c in TILE_COLS}
    for tx, ty, arr, nodata in rows:
        h, w = arr.shape
        cols["tile_x"].append(int(tx))
        cols["tile_y"].append(int(ty))
        cols["width"].append(w)
        cols["height"].append(h)
        cols["dtype"].append(str(arr.dtype))
        cols["nodata"].append(None if nodata is None else float(nodata))
        cols["data"].append(pack(arr))
        for c, strip in zip(HALO_STRIP_COLS, border_strips(arr)):
            cols[c].append(strip)
    return cols


def tile_frame(rows) -> pd.DataFrame:
    """One batch of :data:`TILE_SCHEMA` rows from ``(tile_x, tile_y, arr,
    nodata)`` tuples: packs ``arr`` as ``data``, takes ``width``,
    ``height`` and ``dtype`` from the array and slices the four border
    strips from it.  Every tile row in the engine is built here."""
    return pd.DataFrame(_tile_columns(rows))


def tiles_from_state(
    df: DataFrame, blob: str, dtype: str, nodata: float | None
) -> DataFrame:
    """Project an op's state frame onto :data:`TILE_SCHEMA` through
    :func:`tile_frame`.  ``blob`` names the column holding the final
    grid, packed as ``dtype`` over ``height`` x ``width``; one Python
    pass slices its strips."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield tile_frame(
                (r.tile_x, r.tile_y,
                 unpack(getattr(r, blob), r.height, r.width, dtype), nodata)
                for r in pdf.itertuples())

    return df.select("tile_x", "tile_y", "width", "height", blob) \
        .mapInPandas(run, TILE_SCHEMA)


class TiledRaster:
    """Handle pairing the tile DataFrame with its RasterMeta."""

    def __init__(self, df: DataFrame, meta: RasterMeta):
        self.df = df
        self.meta = meta

    def persist(self) -> "TiledRaster":
        self.df = self.df.persist()
        return self

    def unpersist(self) -> "TiledRaster":
        self.df.unpersist()
        return self

    def to_array(self) -> np.ndarray:
        """Collect and reassemble the full grid (tests / small rasters)."""
        m = self.meta
        out = np.zeros((m.height, m.width), dtype=np.dtype(m.dtype))
        for row in self.df.collect():
            a = unpack(row.data, row.height, row.width, row.dtype)
            oy, ox = row.tile_y * m.tile_h, row.tile_x * m.tile_w
            out[oy : oy + row.height, ox : ox + row.width] = a
        return out

    def cells(self) -> DataFrame:
        """Exploded per-cell view ``(x, y, value)`` in global coordinates —
        the relational edge of the engine (joins, SQL, tests)."""
        m = self.meta
        schema = StructType(
            [
                StructField("x", IntegerType(), False),
                StructField("y", IntegerType(), False),
                StructField("value", DoubleType(), True),
            ]
        )

        tw, th = m.tile_w, m.tile_h

        def explode_tiles(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                for r in pdf.itertuples():
                    a = unpack(r.data, r.height, r.width, r.dtype)
                    yy, xx = np.mgrid[0 : r.height, 0 : r.width]
                    yield pd.DataFrame(
                        {
                            "x": (xx.ravel() + r.tile_x * tw).astype("int32"),
                            "y": (yy.ravel() + r.tile_y * th).astype("int32"),
                            "value": a.ravel().astype("float64"),
                        }
                    )

        return self.df.mapInPandas(explode_tiles, schema)


def raster_from_array(
    spark: SparkSession,
    arr: np.ndarray,
    tile_w: int = 256,
    tile_h: int = 256,
    nodata: float | None = None,
    geotransform: tuple = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
) -> TiledRaster:
    """Chop a NumPy grid into a tile DataFrame (test/ingest path)."""
    h, w = arr.shape
    meta = RasterMeta(
        width=w, height=h, tile_w=tile_w, tile_h=tile_h, nodata=nodata,
        dtype=str(arr.dtype), geotransform=tuple(geotransform),
    )
    cols = _tile_columns(
        (tx, ty,
         arr[ty * tile_h : (ty + 1) * tile_h,
             tx * tile_w : (tx + 1) * tile_w],
         nodata)
        for ty in range(meta.ntiles_y) for tx in range(meta.ntiles_x)
    )
    df = copartition_tiles(
        spark.createDataFrame(list(zip(*cols.values())), TILE_SCHEMA))
    return TiledRaster(df, meta)


def canonical_tile_partitions(spark: SparkSession) -> int:
    """The engine-wide tile partition count: spark.sql.shuffle.partitions.
    Every shuffle that keys on the tile key (halo strip groupBys, seam
    aggregations) lands on this count, so a tile table partitioned the
    same way joins them EXCHANGE-FREE — tile interiors never move."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def copartition_tiles(df: DataFrame) -> DataFrame:
    """Hash-partition a tile table on the canonical key
    ``(tile_x, tile_y)`` at the canonical count — the in-session
    equivalent of a bucketed table.  Applied once at ingest/creation;
    all downstream per-tile ops (mapInPandas) preserve it."""
    return df.repartition(
        canonical_tile_partitions(df.sparkSession), "tile_x", "tile_y"
    )


def _require_tile_columns(df: DataFrame, source: str) -> DataFrame:
    """Tables on disk are outside input: fail early, naming every
    :data:`TILE_SCHEMA` column the table lacks."""
    missing = [c for c in TILE_COLS if c not in df.columns]
    if missing:
        raise ValueError(
            f"{source} is not a tile table: missing column(s) "
            + ", ".join(missing))
    return df


def read_raster(
    spark: SparkSession, path: str, copartition: bool = True
) -> TiledRaster:
    """Read a tile table written by :func:`write_raster`.

    ``copartition=True`` (default) pays ONE ingest shuffle to land the
    tiles on the canonical ``(tile_x, tile_y)`` hash partitioning, after
    which every halo exchange / seam aggregation in the session joins
    the table exchange-free (see :func:`halo_join`).  A bucketed table
    (:func:`write_raster_table`) or an Iceberg table partitioned by the
    tile key makes even that ingest shuffle unnecessary."""
    df = _require_tile_columns(spark.read.parquet(path), path)
    if copartition:
        df = copartition_tiles(df)
    import json

    with open(path.rstrip("/") + "/_raster_meta.json") as f:
        d = json.load(f)
    meta = RasterMeta(**d)
    return TiledRaster(df, meta)


def write_raster(tr: TiledRaster, path: str) -> None:
    """Parquet sink partitioned by tile key (Iceberg-shaped layout); the
    reference's ``saveGDAL`` + PROCESSING_HISTORY analogue
    (Array2D.hpp:1112-1190)."""
    tr.df.write.mode("overwrite").parquet(path)
    import json

    m = tr.meta
    with open(path.rstrip("/") + "/_raster_meta.json", "w") as f:
        json.dump(
            {
                "width": m.width, "height": m.height,
                "tile_w": m.tile_w, "tile_h": m.tile_h,
                "nodata": m.nodata, "dtype": m.dtype,
                "geotransform": list(m.geotransform),
                "projection": m.projection, "history": m.history,
            },
            f,
        )


def _meta_to_dict(m: RasterMeta) -> dict:
    return {
        "width": m.width, "height": m.height,
        "tile_w": m.tile_w, "tile_h": m.tile_h,
        "nodata": m.nodata, "dtype": m.dtype,
        "geotransform": list(m.geotransform),
        "projection": m.projection, "history": m.history,
    }


def write_raster_table(
    tr: TiledRaster, table: str, buckets: int | None = None
) -> None:
    """Bucketed catalog sink: the persistent form of the canonical tile
    partitioning.  A table bucketed by ``(tile_x, tile_y)`` is read back
    already hash-distributed on the tile key, so NO exchange — not even
    the one-time ingest shuffle — ever touches the tile blobs; this is
    the 100 TB substrate (an Iceberg table bucket-partitioned on the
    tile key behaves identically).  Raster metadata rides along as a
    table property."""
    import json

    spark = tr.df.sparkSession
    if buckets is None:
        buckets = canonical_tile_partitions(spark)
    (tr.df.write.bucketBy(buckets, "tile_x", "tile_y")
     .sortBy("tile_x", "tile_y")
     .format("parquet").mode("overwrite").saveAsTable(table))
    meta_json = json.dumps(_meta_to_dict(tr.meta)).replace("'", "''")
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('richdem_meta' = '{meta_json}')"
    )


def read_raster_table(spark: SparkSession, table: str) -> TiledRaster:
    """Read a bucketed tile table written by :func:`write_raster_table`;
    the scan reports the bucket distribution, so tile-key joins against
    it are exchange-free with zero ingest shuffle."""
    import json

    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    meta = RasterMeta(**json.loads(props["richdem_meta"]))
    return TiledRaster(
        _require_tile_columns(spark.table(table), table), meta)


# ---------------------------------------------------------------------------
# Halo exchange
# ---------------------------------------------------------------------------
#
# The one cross-tile communication primitive (the reference's O(perimeter)
# border exchange, programs/parallel_priority_flood/main.cpp:1-4).  This
# module alone knows how it works:
#
# * cut   -- each tile's border pieces at depth k from one or more planes;
# * key   -- each piece addressed to its receiving tile by slot;
# * ship  -- one groupBy, broadcast or co-partitioned (halo_exchange);
# * paste -- the padded arrays (pad_planes / assemble_padded).
#
# A piece carries every plane: the planes' pieces concatenated in order.

# above this many bytes of halo pieces, broadcasting them is no longer
# sensible; the join instead relies on both sides sharing the canonical
# (tile_x, tile_y) hash partitioning (see halo_exchange)
HALO_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


class Plane(NamedTuple):
    """One per-tile array a halo carries: the column holding it, packed
    as ``dtype`` over ``height`` x ``width`` x ``shape`` (``shape`` is
    the trailing cell shape, e.g. ``(9,)`` for MFD proportions)."""

    col: str
    dtype: str
    shape: tuple[int, ...] = ()

    @property
    def cell_bytes(self) -> int:
        return np.dtype(self.dtype).itemsize * math.prod(self.shape)


# Piece slots: position of the CONTRIBUTING tile relative to the receiving
# tile, in the reference's D8 numbering (constants.hpp:5-10)
#   2=NW 3=N 4=NE / 1=W 5=E / 8=SW 7=S 6=SE
# so the tile at t sends its slot-s piece to t - (D8X[s], D8Y[s]).  Each
# slot's (row band, column band) in the RECEIVER's padded frame; the
# sender cuts the opposite band of its own tile ("all" for "mid").
_SLOT_BANDS = {
    3: ("lo", "mid"), 7: ("hi", "mid"), 1: ("mid", "lo"), 5: ("mid", "hi"),
    2: ("lo", "lo"), 4: ("lo", "hi"), 8: ("hi", "lo"), 6: ("hi", "hi"),
}
_SENDER_BAND = {"lo": "hi", "mid": "all", "hi": "lo"}

_HALO_PIECE_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("slot", IntegerType(), False),
        StructField("strip", BinaryType(), False),
    ]
)


def border_strips(*planes: np.ndarray) -> tuple[bytes, bytes, bytes, bytes]:
    """The depth-1 pieces a tile carries as ``hs_n, hs_s, hs_w, hs_e``:
    its N row, S row, W column and E column, each the planes' strips
    concatenated in order."""
    return tuple(
        b"".join(pack(a[side]) for a in planes)
        for side in (np.s_[0, :], np.s_[-1, :], np.s_[:, 0], np.s_[:, -1])
    )


def _jvm_halo_strips(df: DataFrame, meta: RasterMeta,
                     planes: list[Plane]) -> DataFrame:
    """Depth-1 pieces (receiver tile, slot, strip) from the carried
    border strips -- pure JVM codegen: one scan of the small strip
    columns, one explode; the planes are never read and no Python stage
    runs.  Edges are the strips themselves; a corner is each plane's
    first or last element of the N or S strip.  Byte sizes come from the
    strip (its length over ``width`` is one cell of every plane), so a
    single plane always matches the row's ``dtype``."""
    total = sum(p.cell_bytes for p in planes)
    cell = "(length(hs_n) div width)"

    def part(nbytes: int) -> str:  # nbytes of one cell, from the strip
        return cell if nbytes == total else f"({cell} * {nbytes} div {total})"

    def corner(strip: str, cols: str) -> str:
        subs, off = [], 0
        for p in planes:
            start = [f"width * {part(off)}"] if off else []
            if cols == "hi":
                start.append(f"(width - 1) * {part(p.cell_bytes)}")
            subs.append(f"substring({strip}, {' + '.join(start + ['1'])}, "
                        f"{part(p.cell_bytes)})")
            off += p.cell_bytes
        return subs[0] if len(subs) == 1 else f"concat({', '.join(subs)})"

    strips = {("hi", "all"): "hs_s", ("lo", "all"): "hs_n",
              ("all", "hi"): "hs_e", ("all", "lo"): "hs_w"}
    pieces = []
    for slot, bands in _SLOT_BANDS.items():
        ys, xs = (_SENDER_BAND[b] for b in bands)
        piece = strips.get((ys, xs)) or corner(strips[(ys, "all")], xs)
        pieces.append(
            f"named_struct('tile_x', tile_x + {-int(D8X[slot])}, "
            f"'tile_y', tile_y + {-int(D8Y[slot])}, "
            f"'slot', {slot}, 'strip', {piece})")
    # one SQL expression: each F.col/F.lit/F.struct/alias call costs
    # Py4J round trips (more with Spark's call-site capture); building
    # this table piece by piece took over 1,100 per exchange
    return df.selectExpr(f"inline(array({', '.join(pieces)}))").where(
        f"tile_x >= 0 AND tile_x < {meta.ntiles_x} "
        f"AND tile_y >= 0 AND tile_y < {meta.ntiles_y}"
    )


def _cut_pieces(meta: RasterMeta, planes: list[Plane], k: int):
    """mapInPandas body cutting depth-``k`` pieces in Python (tiles
    carry only depth-1 strips).  A neighbour thinner than ``k`` is cut
    whole, so ragged edges send thinner pieces."""
    ntx, nty = meta.ntiles_x, meta.ntiles_y
    band = {"lo": slice(0, k), "hi": slice(-k, None), "all": slice(None)}

    def cut(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in _HALO_PIECE_SCHEMA.fields}
            for r in pdf.itertuples():
                arrs = [
                    np.frombuffer(getattr(r, p.col), p.dtype)
                    .reshape(r.height, r.width, *p.shape) for p in planes
                ]
                for slot, bands in _SLOT_BANDS.items():
                    tx = r.tile_x - int(D8X[slot])
                    ty = r.tile_y - int(D8Y[slot])
                    if not (0 <= tx < ntx and 0 <= ty < nty):
                        continue
                    ys, xs = (band[_SENDER_BAND[b]] for b in bands)
                    out["tile_x"].append(tx)
                    out["tile_y"].append(ty)
                    out["slot"].append(slot)
                    out["strip"].append(
                        b"".join(pack(a[ys, xs]) for a in arrs))
            yield pd.DataFrame(out)

    return cut


def halo_exchange(df: DataFrame, meta: RasterMeta, planes: list[Plane],
                  k: int = 1) -> DataFrame:
    """``df``'s tile rows augmented with a ``halo`` column: the list of
    (slot, strip) structs of the depth-``k`` border pieces of
    ``planes`` from every neighbouring tile (null without neighbours).
    :func:`pad_planes` pastes it.

    At ``k = 1`` the pieces come from the carried ``hs_*`` columns
    (:func:`border_strips` of the planes) in the JVM; deeper pieces are
    cut in Python from the plane columns and ``width``/``height``.

    ONE shuffle of O(perimeter) piece data; the tile rows NEVER shuffle,
    by either of two mechanisms:

    * under ``HALO_BROADCAST_MAX_BYTES`` of pieces, the piece side is
      broadcast (Catalyst has no stats for the aggregated pieces and
      would otherwise pick a SortMergeJoin that exchanges every tile
      blob -- the dominant hidden cost of every focal op);
    * above it -- the 100 TB regime, where 10^6 tiles of pieces run to
      tens of GB -- the join relies on CO-PARTITIONING: the piece
      groupBy lands on ``hash(tile_x, tile_y)`` at the canonical count,
      and every tile table in the engine carries the SAME partitioning
      (creation/ingest via :func:`copartition_tiles`, persistence via
      :func:`write_raster_table` bucketing; per-tile mapInPandas ops
      preserve it), so the sort-merge join plans ZERO exchange on the
      tile side.  tests/test_halo_plan.py asserts this.
    """
    if k == 1:
        pieces = _jvm_halo_strips(df, meta, planes)
    else:
        cols = ["tile_x", "tile_y", "width", "height",
                *(p.col for p in planes)]
        pieces = df.select(*cols).mapInPandas(
            _cut_pieces(meta, planes, k), _HALO_PIECE_SCHEMA)
    packed = pieces.groupBy("tile_x", "tile_y").agg(
        F.expr("collect_list(struct(slot, strip)) AS halo"))
    # every tile receives at most 4 edges of depth k and 4 k x k corners
    piece_bytes = (
        meta.ntiles_x * meta.ntiles_y
        * (2 * (meta.tile_w + meta.tile_h) * k + 4 * k * k)
        * sum(p.cell_bytes for p in planes)
    )
    if piece_bytes <= HALO_BROADCAST_MAX_BYTES:
        packed = F.broadcast(packed)
    return df.join(packed, ["tile_x", "tile_y"], "left")


def halo_join(tr: TiledRaster) -> DataFrame:
    """Tile rows with the 1-deep ``halo`` of their ``data``
    (:func:`halo_exchange` of the one tile plane)."""
    return halo_exchange(tr.df, tr.meta, [Plane("data", tr.meta.dtype)])


def pad_planes(
    cores: list[np.ndarray], halo, fills: list[float]
) -> tuple[list[np.ndarray], int, int]:
    """Paste a row's ``halo`` (None, or its (slot, strip) structs) around
    each plane's ``core`` array.  Returns (padded arrays, pad_top,
    pad_left).

    A side is padded only where a neighbour sent a piece, as deep as
    that piece (a neighbour thinner than the exchange depth sends a
    thinner one), so on global DEM edges the array border coincides
    with the global border and kernels' edge rules apply exactly (see
    kernels/d8.py docstring).  Cells no piece covers keep ``fills``."""
    h, w = cores[0].shape[:2]
    sizes = [c.dtype.itemsize * math.prod(c.shape[2:]) for c in cores]
    total = sum(sizes)
    pieces = {} if halo is None else {s["slot"]: s["strip"] for s in halo}

    def bad(slot: int, nbytes: int, cells: str) -> ValueError:
        return ValueError(f"halo piece for slot {slot} holds {nbytes} "
                          f"bytes, not {cells} cells of {total} bytes")

    def depth(slot: int, side: int) -> int:
        nbytes = len(pieces.get(slot, b""))
        if nbytes % (side * total):
            raise bad(slot, nbytes, f"whole lines of {side}")
        return nbytes // (side * total)

    pt, pb, pl, pr = depth(3, w), depth(7, w), depth(1, h), depth(5, h)
    padded = []
    for c, fill in zip(cores, fills):
        p = np.full((h + pt + pb, w + pl + pr) + c.shape[2:], fill,
                    dtype=c.dtype)
        p[pt:pt + h, pl:pl + w] = c
        padded.append(p)
    rows = {"lo": slice(0, pt), "mid": slice(pt, pt + h),
            "hi": slice(pt + h, pt + h + pb)}
    cols = {"lo": slice(0, pl), "mid": slice(pl, pl + w),
            "hi": slice(pl + w, pl + w + pr)}
    for slot, blob in pieces.items():
        rband, cband = _SLOT_BANDS[slot]
        ys, xs = rows[rband], cols[cband]
        n = (ys.stop - ys.start) * (xs.stop - xs.start)
        if not n:
            continue  # a corner beside an unpadded side
        if len(blob) != n * total:
            raise bad(slot, len(blob), str(n))
        off = 0
        for p, size in zip(padded, sizes):
            p[ys, xs] = np.frombuffer(
                blob, p.dtype, n * size // p.dtype.itemsize, off * n
            ).reshape(p[ys, xs].shape)
            off += size
    return padded, pt, pl


def assemble_padded(
    core: np.ndarray, halo, dtype: str, fill_value: float
) -> tuple[np.ndarray, int, int]:
    """One-plane :func:`pad_planes`: ``core`` and the pieces read as
    ``dtype``.  Returns (padded, pad_top, pad_left)."""
    (padded,), pt, pl = pad_planes(
        [np.asarray(core, dtype=dtype)], halo, [fill_value])
    return padded, pt, pl


PIECE_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType(), False),
        StructField("tile_y", IntegerType(), False),
        StructField("py", IntegerType(), False),   # paste offset in tile
        StructField("px", IntegerType(), False),
        StructField("ph", IntegerType(), False),   # piece dims
        StructField("pw", IntegerType(), False),
        StructField("data", BinaryType(), False),
    ]
)


def assemble_pieces(
    pieces: DataFrame, meta: RasterMeta, fill: float = 0.0
) -> TiledRaster:
    """Distributed re-layout: paste sub-array pieces (PIECE_SCHEMA rows,
    keyed by destination tile) into fresh tiles — one shuffle on the
    destination tile key, no driver gather.  Serves flips/crops/shifts
    whose destination tile grid doesn't align with the source tiles."""
    dt = meta.dtype
    tw, th = meta.tile_w, meta.tile_h
    W, H = meta.width, meta.height
    nodata = meta.nodata

    def paste(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        tw_t = min(tw, W - tx * tw)
        th_t = min(th, H - ty * th)
        out = np.full((th_t, tw_t), fill, dtype=np.dtype(dt))
        for r in pdf.itertuples():
            a = unpack(r.data, r.ph, r.pw, dt)
            out[r.py : r.py + r.ph, r.px : r.px + r.pw] = a
        return tile_frame([(tx, ty, out, nodata)])

    out_df = pieces.groupBy("tile_x", "tile_y").applyInPandas(
        paste, TILE_SCHEMA
    )
    return TiledRaster(out_df, meta)
