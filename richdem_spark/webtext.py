"""Web-scale input layer (BASELINE.json input_hint / north_rule).

The engine's DEMs are rasterized from a Common-Crawl-style web-page table

    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Pages are geocoded (lat/lon parsed from the extracted text), binned to
spatial-index cells, and aggregated into raster tiles; the spatial joins
(point-in-polygon watershed assignment, kNN pour-point matching,
raster<->vector pairing) run on the same index (see spatial.py).

Everything here is deterministic (pure functions of the row id and a
seed), so tests and the N-vs-4N scaling bench regenerate identical data
at any parallelism — and the per-row invariant holds: ``extract_text``
is byte-identical per url.

Skew is intentional: page locations follow a Zipf-like mixture around
"city" hotspots, the realistic geo-skew the north_rule requires explicit
handling for (salted two-phase aggregation below; AQE skew-join at the
session level).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .tiles import TILE_SCHEMA, RasterMeta, TiledRaster, tile_frame

WEBTEXT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_LANGS = ["en", "de", "fr", "es", "pt", "it", "nl", "pl"]
_N_CITIES = 64
_EPOCH = np.datetime64("2024-01-01T00:00:00")


def _mix(i: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic 63-bit integer hash (splitmix-style), vectorized.
    uint64 wraparound is the algorithm — silence only the overflow
    warning, locally, so real overflow bugs elsewhere stay visible."""
    with np.errstate(over="ignore"):
        z = (i.astype(np.uint64)
             + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (z ^ (z >> np.uint64(31))) & np.uint64(0x7FFFFFFFFFFFFFFF)


def _city_centers(seed: int) -> tuple[np.ndarray, np.ndarray]:
    idx = np.arange(_N_CITIES, dtype=np.uint64)
    lat = -55.0 + (_mix(idx, seed + 1) % np.uint64(110000)).astype(
        np.float64
    ) / 1000.0
    lon = -170.0 + (_mix(idx, seed + 2) % np.uint64(340000)).astype(
        np.float64
    ) / 1000.0
    return lat, lon


def page_coords(ids: np.ndarray, seed: int = 42):
    """Deterministic skewed geocoordinates for page ids.

    City chosen Zipf-style (city 0 gets ~1/1, city k ~1/(k+1) weight) —
    heavy geo-skew by construction.
    """
    clat, clon = _city_centers(seed)
    u = (_mix(ids, seed + 3) % np.uint64(1_000_000)).astype(np.float64) / 1e6
    # inverse-CDF of a Zipf-ish categorical over _N_CITIES
    ranks = np.arange(1, _N_CITIES + 1, dtype=np.float64)
    w = 1.0 / ranks
    cdf = np.cumsum(w / w.sum())
    city = np.searchsorted(cdf, u, side="left").clip(0, _N_CITIES - 1)
    spread = 1.5
    dlat = ((_mix(ids, seed + 4) % np.uint64(2_000_001)).astype(np.float64)
            / 1e6 - 1.0) * spread
    dlon = ((_mix(ids, seed + 5) % np.uint64(2_000_001)).astype(np.float64)
            / 1e6 - 1.0) * spread
    lat = np.clip(clat[city] + dlat, -89.9, 89.9)
    lon = np.clip(clon[city] + dlon, -179.9, 179.9)
    return np.round(lat, 4), np.round(lon, 4)


def render_html(url: str, lat: float, lon: float, lang: str,
                body_words: list[str]) -> bytes:
    """Deterministic page bytes embedding the geotag."""
    body = " ".join(body_words)
    return (
        f"<html><head><title>{url}</title></head><body>"
        f"<p>geo: {lat:.4f}, {lon:.4f}</p>"
        f"<p lang=\"{lang}\">{body}</p>"
        f"</body></html>"
    ).encode("utf-8")


def extract_text(html: bytes) -> str:
    """Byte-identical-per-url text extraction (input_hint per-row
    invariant): strip tags, collapse whitespace — a frozen pure function;
    its output is hashed in tests."""
    out = []
    in_tag = False
    for ch in html.decode("utf-8", errors="replace"):
        if ch == "<":
            in_tag = True
        elif ch == ">":
            in_tag = False
            out.append(" ")
        elif not in_tag:
            out.append(ch)
    return " ".join("".join(out).split())


_TAG_RE = None


def extract_text_batch(htmls: pd.Series) -> pd.Series:
    """Vectorized twin of :func:`extract_text` — tested byte-identical
    (tests/test_webtext.py); used on the hot generation/ingest path."""
    global _TAG_RE
    import re

    if _TAG_RE is None:
        _TAG_RE = re.compile(r"<[^>]*>")
    s = htmls.map(lambda b: b.decode("utf-8", errors="replace"))
    s = s.str.replace(_TAG_RE, " ", regex=True)
    return s.str.split().str.join(" ")


_WORDS = (
    "river basin water flow terrain elevation slope valley ridge rain "
    "catchment city page crawl web data map model grid cell tile index"
).split()


def synth_webtext(
    spark: SparkSession, n_pages: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic synthetic webtext table of exactly the input_hint
    shape; generated distributed (spark.range -> mapInPandas)."""

    max_words = 48

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy().astype(np.uint64)
            n = len(ids)
            lat, lon = page_coords(ids, seed)
            lang_ix = (_mix(ids, seed + 6) % np.uint64(len(_LANGS))).astype(
                int
            )
            nwords = 8 + (_mix(ids, seed + 7) % np.uint64(40)).astype(int)
            urls = [
                f"https://site{int(i) % 997}.example.com/page/{int(i)}"
                for i in ids
            ]
            ts = _EPOCH + (_mix(ids, seed + 8) % np.uint64(86400 * 30)
                           ).astype("timedelta64[s]")
            # word matrix vectorized: column j = word for slot j of every
            # page (same per-slot hash as the scalar path)
            word_ix = np.empty((n, max_words), dtype=np.int64)
            with np.errstate(over="ignore"):
                for j in range(max_words):
                    word_ix[:, j] = (
                        _mix(ids * np.uint64(64) + np.uint64(j), seed + 9)
                        % np.uint64(len(_WORDS))
                    ).astype(np.int64)
            warr = np.array(_WORDS)
            htmls, texts, langs = [], [], []
            for k in range(n):
                wsel = warr[word_ix[k, : int(nwords[k])]].tolist()
                lg = _LANGS[lang_ix[k]]
                hb = render_html(urls[k], float(lat[k]), float(lon[k]),
                                 lg, wsel)
                htmls.append(hb)
                langs.append(lg)
            texts = extract_text_batch(pd.Series(htmls)).tolist()
            yield pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": pd.Series(ts),
                    "html": htmls,
                    "text": texts,
                    "lang": langs,
                }
            )

    p = partitions or spark.sparkContext.defaultParallelism
    return spark.range(0, n_pages, numPartitions=p).mapInPandas(
        gen, WEBTEXT_SCHEMA
    )


def geocode(pages: DataFrame) -> DataFrame:
    """Parse lat/lon out of the extracted text — JVM-side regexp (no
    Python), pushdown-friendly."""
    return pages.withColumn(
        "lat",
        F.regexp_extract("text", r"geo: (-?\d+\.\d+), (-?\d+\.\d+)", 1)
        .cast("double"),
    ).withColumn(
        "lon",
        F.regexp_extract("text", r"geo: (-?\d+\.\d+), (-?\d+\.\d+)", 2)
        .cast("double"),
    )


def rasterize_pages(
    pages_geo: DataFrame,
    grid: int = 1024,
    tile: int = 256,
    salt_buckets: int = 0,
    value: str = "log1p",
) -> TiledRaster:
    """Bin geocoded pages into a ``grid x grid`` raster; elevation =
    log1p(page count) per cell (deterministic aggregate per FIXTURES.md
    §5).

    Skew handling (explicit per north_rule): COUNT is algebraic, so
    Spark's map-side partial aggregation already splits a hot city's rows
    across every input partition before the shuffle — one reducer sees at
    most |cells| combined rows, never |pages|.  ``salt_buckets > 0``
    additionally inserts an explicit salted pre-aggregation
    ``(salt, gx, gy)`` for the non-algebraic aggregates (collect_list /
    exact quantiles) this pipeline may carry at 100 TB; it is OFF by
    default because it costs one extra shuffle.
    """
    n = grid
    ntile = (grid + tile - 1) // tile
    gx = F.least(
        F.greatest(
            F.floor((F.col("lon") + 180.0) / 360.0 * n).cast("long"),
            F.lit(0),
        ),
        F.lit(n - 1),
    )
    gy = F.least(
        F.greatest(
            F.floor((90.0 - F.col("lat")) / 180.0 * n).cast("long"),
            F.lit(0),
        ),
        F.lit(n - 1),
    )
    cells = pages_geo.select(gx.alias("gx"), gy.alias("gy"))
    if salt_buckets > 0:
        salted = cells.withColumn(
            "salt", (F.rand(seed=0) * salt_buckets).cast("int")
        )
        partial = salted.groupBy("salt", "gx", "gy").agg(
            F.count(F.lit(1)).alias("c")
        )
        counts = partial.groupBy("gx", "gy").agg(F.sum("c").alias("c"))
    else:
        counts = cells.groupBy("gx", "gy").agg(
            F.count(F.lit(1)).alias("c")
        )

    meta = RasterMeta(
        width=grid, height=grid, tile_w=tile, tile_h=tile, nodata=None,
        dtype="float64",
        geotransform=(-180.0, 360.0 / grid, 0.0, 90.0, 0.0, -180.0 / grid),
    )

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        tw = min(tile, grid - tx * tile)
        th = min(tile, grid - ty * tile)
        a = np.zeros((th, tw), dtype=np.float64)
        xs = pdf["gx"].to_numpy() - tx * tile
        ys = pdf["gy"].to_numpy() - ty * tile
        np.add.at(a, (ys, xs), pdf["c"].to_numpy().astype(np.float64))
        if value == "log1p":
            a = np.log1p(a)
        return tile_frame([(tx, ty, a, None)])

    # every tile must exist (empty ocean tiles included) so the raster is
    # a full rectangle: union with a zero-count anchor row per tile
    spark = pages_geo.sparkSession
    anchors = spark.range(ntile * ntile).select(
        ((F.col("id") % ntile) * tile).alias("gx"),
        ((F.col("id") / ntile).cast("long") * tile).alias("gy"),
        F.lit(0).cast("long").alias("c"),
    )
    full = counts.select("gx", "gy", "c").unionByName(anchors)
    full = full.withColumn(
        "tile_x", (F.col("gx") / tile).cast("int")
    ).withColumn("tile_y", (F.col("gy") / tile).cast("int"))
    df = full.groupBy("tile_x", "tile_y").applyInPandas(
        assemble, TILE_SCHEMA)
    return TiledRaster(df, meta.with_history("rasterize_pages"))
