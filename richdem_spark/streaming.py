"""Structured Streaming surface: incremental webtext rasterization.

The reference is a batch engine (SURVEY.md §2.11 — no streaming
analogue); this is the engine's native extension for continuously-crawled
pages: ``readStream`` over the webtext table -> geocode -> cell binning ->
watermarked windowed counts -> tile-table upserts via ``foreachBatch``.

At 100 TB the same topology runs against a Kafka/Iceberg-CDC source; the
aggregation state is bounded by (watermark horizon x active cells).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .webtext import WEBTEXT_SCHEMA, geocode


def read_webtext_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(WEBTEXT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_cell_counts(
    pages: DataFrame,
    grid: int = 1024,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked per-window per-cell page counts — the incremental
    rasterization aggregate.  Late pages beyond the watermark are
    dropped; everything stays in JVM codegen (no Python)."""
    geo = geocode(pages)
    n = grid
    gx = F.least(
        F.greatest(F.floor((F.col("lon") + 180.0) / 360.0 * n)
                   .cast("long"), F.lit(0)), F.lit(n - 1))
    gy = F.least(
        F.greatest(F.floor((90.0 - F.col("lat")) / 180.0 * n)
                   .cast("long"), F.lit(0)), F.lit(n - 1))
    return (
        geo.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("win"),
            gx.alias("gx"),
            gy.alias("gy"),
        )
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            "gx", "gy", "n_pages",
        )
    )


def streaming_dedup_exact(
    pages: DataFrame,
    watermark: str = "2 hours",
    key_cols: tuple = ("text",),
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Streaming exact dedup: keep the first page per content key within
    the watermark horizon (``dropDuplicatesWithinWatermark`` — state
    bounded by horizon x distinct keys, unlike plain dropDuplicates
    whose state grows forever).  The streaming twin of
    textops.dedup_exact for a continuously-crawled corpus; recrawls and
    mirror fetches inside the horizon collapse to one row.

    The key hashes a JSON-encoded struct of the key columns rather than a
    separator join: ``concat_ws`` silently drops NULLs (so (NULL) and ('')
    collide) and a separator byte inside a value aliases across column
    boundaries — JSON escaping and explicit ``null`` fields rule both
    out."""
    hashed = pages.withColumn(
        "content_h",
        F.md5(F.to_json(F.struct(*[F.col(c) for c in key_cols]),
                        {"ignoreNullFields": "false"})),
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_h"])
    )


def streaming_quality_monitor(
    pages: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Windowed corpus-quality telemetry: per language per window, page
    count, mean text length, and blank-page share — the live counterpart
    of the batch quality_score pass; all JVM codegen."""
    return (
        pages.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.avg(F.length("text")).alias("mean_len"),
            F.avg((F.length(F.trim(F.col("text"))) == 0)
                  .cast("double")).alias("blank_share"),
        )
        .select(F.col("win.start").alias("window_start"), "lang",
                "n_pages", "mean_len", "blank_share")
    )


def _sum_tile_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge rows for one (tile_x, tile_y): unpack blobs, sum cellwise."""
    from .tiles import tile_frame, unpack

    acc = None
    for r in pdf.itertuples():
        a = unpack(r.data, r.height, r.width, r.dtype)
        acc = a.copy() if acc is None else acc + a
    return tile_frame([(key[0], key[1], acc, pdf["nodata"].iloc[0])])


def run_incremental_rasterization_bucketed(
    spark: SparkSession,
    input_path: str,
    table: str,
    checkpoint: str,
    grid: int = 1024,
    tile: int = 256,
    max_files_per_trigger: int = 8,
) -> None:
    """Streaming upsert into the BUCKETED tile-table substrate — the
    same catalog layout batch jobs write via ``write_raster_table``, so
    the streaming and batch worlds converge on one storage format (a
    downstream fill/accum job reads either with zero exchanges).

    Per micro-batch: geocode -> per-cell COUNT deltas -> delta tiles
    (counts are additive across batches, unlike log1p) -> cellwise merge
    with the existing table -> stage-and-swap.  The swap (write
    ``__stage``, drop, rename) is the local-catalog stand-in for a
    transactional MERGE; on Iceberg/Delta at 100 TB the merge is a
    single MERGE INTO keyed by (tile_x, tile_y) and batch retries are
    idempotent via ``batch_id`` — with the plain Hive catalog a retry
    between drop and rename could double-apply one batch, which is why
    production deployments put an ACID table format under this exact
    topology."""
    from .tiles import (
        TILE_SCHEMA,
        TiledRaster,
        read_raster_table,
        write_raster_table,
    )
    from .webtext import geocode, rasterize_pages

    pages = read_webtext_stream(spark, input_path, max_files_per_trigger)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = rasterize_pages(
            geocode(batch_df), grid=grid, tile=tile, value="count")
        merged = delta
        if spark.catalog.tableExists(table):
            old = read_raster_table(spark, table)
            merged = TiledRaster(
                old.df.unionByName(delta.df)
                .groupBy("tile_x", "tile_y")
                .applyInPandas(_sum_tile_group, TILE_SCHEMA),
                old.meta,
            )
        stage = f"{table}__stage"
        write_raster_table(merged, stage)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")

    q = (
        pages.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_rasterization(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    grid: int = 1024,
) -> None:
    """End-to-end incremental pipeline: stream -> windowed cell counts ->
    append sink; resumable from `checkpoint` (the engine's
    per-partition-state + lineage requirement maps to Structured
    Streaming's offset/state checkpointing)."""
    pages = read_webtext_stream(spark, input_path)
    counts = streaming_cell_counts(pages, grid=grid)
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
