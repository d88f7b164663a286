"""dem-pipeline workload: read -> FillDepressions -> D8 accumulation ->
slope -> write, on a seeded Perlin DEM stored as a bucketed tile table.

Few large tiles, so the per-tile kernels and the halo exchange carry the
work; the table read and the two table writes put the raster I/O path in
the measured pass too."""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from richdem_spark.api import FillDepressions, TerrainAttribute
from richdem_spark.kernels.d8 import d8_flow_accum, d8_flow_directions
from richdem_spark.kernels.fill import fill_tile_labels, priority_flood_fill
from richdem_spark.kernels.perlin import generate_perlin_terrain
from richdem_spark.kernels.terrain import slope_riserun
from richdem_spark.ops.accum import flow_accumulation_d8_from_elev
from richdem_spark.tiles import (
    halo_join,
    raster_from_array,
    read_raster_table,
    write_raster_table,
)

SIZE = 2048
TILE = 512
IN_TABLE = "perfbench_dem"
OUT_TABLES = {"accum": "perfbench_accum", "slope": "perfbench_slope"}


def _materialize(tr):
    """Pin and compute every column of a raster under the current job
    group."""
    tr.df.persist()
    tr.df.count()
    return tr


def tile_digests(arr: np.ndarray) -> dict:
    """sha1 of each tile's packed float64 blob, keyed (tile_x, tile_y)."""
    out = {}
    for ty in range(SIZE // TILE):
        for tx in range(SIZE // TILE):
            sub = arr[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
            blob = np.ascontiguousarray(sub, dtype=np.float64).tobytes()
            out[(tx, ty)] = hashlib.sha1(blob).hexdigest()
    return out


def _references(dem: np.ndarray) -> dict:
    """Per-tile digests of the single-grid kernel results; all three
    outputs are float64 rasters."""
    filled = priority_flood_fill(dem)
    return {"fill": tile_digests(filled),
            "accum": tile_digests(d8_flow_accum(d8_flow_directions(filled))),
            "slope": tile_digests(slope_riserun(filled))}


def spark_digests(df) -> dict:
    """The same digests computed JVM-side from a tile table."""
    rows = df.select("tile_x", "tile_y", F.sha1("data").alias("d")) \
        .collect()
    return {(r.tile_x, r.tile_y): r.d for r in rows}


class DemPipeline:
    name = "dem-pipeline"
    # one pass = these operations, each a public call plus its
    # materialization; the second item names the per-layer metric
    OPS = (("read", "tiles.read_s"), ("fill", "ops.fill_s"),
           ("accum", "ops.accum_s"), ("slope", "ops.slope_s"),
           ("write", "tiles.write_s"))
    WARMUP_PASSES = 1
    INDEPENDENT_OPS = False

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.cells = SIZE * SIZE
        self.ref: dict = {}
        self._dem = None

    def setup(self, tracer) -> None:
        """Generate and store the DEM.  The single-grid kernel references
        are computed in a background thread, overlapping the warm-up
        pass; the first check waits for them."""
        with tracer.span("setup.inputs"):
            band = SIZE // 8
            with ThreadPoolExecutor(4) as ex:
                dem = np.vstack(list(ex.map(
                    lambda y: generate_perlin_terrain(
                        SIZE, seed=self.seed, y0=y, h=band),
                    range(0, SIZE, band))))
            write_raster_table(
                raster_from_array(self.spark, dem, TILE, TILE), IN_TABLE)
        self._dem = dem
        self._ref_pool = ThreadPoolExecutor(1)
        self._ref_future = self._ref_pool.submit(_references, dem)

    def close(self) -> None:
        self._ref_pool.shutdown(wait=True)

    def run_op(self, op: str, state: dict) -> None:
        if op == "read":
            state["dem"] = _materialize(
                read_raster_table(self.spark, IN_TABLE))
        elif op == "fill":
            state["fill"] = _materialize(FillDepressions(state["dem"]))
        elif op == "accum":
            state["accum"] = _materialize(
                flow_accumulation_d8_from_elev(state["fill"]))
        elif op == "slope":
            state["slope"] = _materialize(
                TerrainAttribute(state["fill"], "slope_riserun"))
        elif op == "write":
            for k, table in OUT_TABLES.items():
                write_raster_table(state[k], table)

    def check(self, state: dict) -> list[str]:
        """Names of outputs that differ from the single-grid reference;
        the written tables are read back, so the write path is checked
        too."""
        if not self.ref:
            self.ref = self._ref_future.result()
        bad = []
        if spark_digests(state["fill"].df) != self.ref["fill"]:
            bad.append("fill")
        for k, table in OUT_TABLES.items():
            got = read_raster_table(self.spark, table).df
            if spark_digests(got) != self.ref[k]:
                bad.append(k)
        return bad

    def release(self, state: dict) -> None:
        for tr in state.values():
            tr.df.unpersist()
        state.clear()

    def output_bytes(self) -> int:
        """Bytes on disk of the tables one pass writes."""
        wh = self.spark.conf.get("spark.sql.warehouse.dir")
        wh = wh[len("file:"):] if wh.startswith("file:") else wh
        total = 0
        for table in OUT_TABLES.values():
            for root, _dirs, files in os.walk(os.path.join(wh, table)):
                total += sum(os.path.getsize(os.path.join(root, f))
                             for f in files if f.endswith(".parquet"))
        return total

    def probes(self, tracer, group) -> dict[str, float]:
        """Traced run only: layer figures that need a call of their own.
        ``group(name)`` sets the Spark job group for what follows."""
        out = {}
        with tracer.span("kernels.serial_fill") as s:
            priority_flood_fill(self._dem)
        out["kernels.serial_fill_s"] = s.seconds
        dem = read_raster_table(self.spark, IN_TABLE)
        group("probe.halo_join")
        with tracer.span("tiles.halo_join") as s:
            halo_join(dem).write.format("noop").mode("overwrite").save()
        out["tiles.halo_join_s"] = s.seconds
        # per-tile kernels, called directly on the DEM tiles as round 1
        # calls them; summed over every tile, i.e. one pass's kernel work
        # on one core
        m = dem.meta
        tiles = [(tx, ty, self._dem[ty * TILE:(ty + 1) * TILE,
                                    tx * TILE:(tx + 1) * TILE])
                 for ty in range(m.ntiles_y) for tx in range(m.ntiles_x)]
        with tracer.span("kernels.fill_tile") as s:
            filled = [fill_tile_labels(t, None, m.edge_mask(tx, ty),
                                       2 + (ty * m.ntiles_x + tx) * t.size)[0]
                      for tx, ty, t in tiles]
        out["kernels.fill_tile_s"] = s.seconds
        with tracer.span("kernels.d8_accum_tile") as s:
            for t in filled:
                d8_flow_accum(d8_flow_directions(t))
        out["kernels.d8_accum_tile_s"] = s.seconds
        with tracer.span("kernels.slope_tile") as s:
            for t in filled:
                slope_riserun(t)
        out["kernels.slope_tile_s"] = s.seconds
        out["tiles.write_bytes_per_cell"] = (
            self.output_bytes() / (len(OUT_TABLES) * self.cells))
        return out
