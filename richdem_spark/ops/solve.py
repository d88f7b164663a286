"""The one global solve between the two rounds of a tiled operator.

Every two-round operator has a tiny global solve over O(perimeter) seam
rows (label graphs, route chains, union-finds) — the reference's
producer rank (programs/parallel_priority_flood/main.cpp:498-545).  This
module alone decides where that solve runs and how its result reaches
round 2:

* **Placement.** The driver solves when the estimated row count is
  within :func:`driver_solve_max`, a bound derived from the driver
  JVM's heap; above it the solve runs in a single-partition executor
  job, so the driver never holds O(perimeter) rows.
* **Input.** ``solve_fn`` gets the same Arrow-collected pandas rows
  (attribute-accessible namedtuples) on both placements:
  ``toPandas()`` on the driver, ``repartition(1).mapInPandas`` on an
  executor.
* **Result.** A driver result rides in the round-2 closure at any size
  (PySpark broadcasts a pickled command over 1 MB by itself).  An
  executor result reaches round 2 by a plain left join on
  ``(tile_x, tile_y)``; adaptive execution decides whether to broadcast
  it.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

# Placement hook: None derives the bound from the driver heap; tests set
# 0 to force executor placement.
DRIVER_SOLVE_MAX_ROWS: int | None = None


def driver_solve_max(spark) -> int:
    """Rows the driver may solve: ~100 B of strip and edge payload per
    perimeter row, held to ~1/15 of the driver JVM's max heap, never
    below 1 M rows."""
    if DRIVER_SOLVE_MAX_ROWS is not None:
        return DRIVER_SOLVE_MAX_ROWS
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    return max(1_000_000, heap // 1500)


def perimeter_rows(meta) -> int:
    """Perimeter cells of every tile: the row estimate of a seam solve."""
    return meta.ntiles_x * meta.ntiles_y * 2 * (meta.tile_w + meta.tile_h)


def _on_driver(df: DataFrame, est_rows: int) -> bool:
    return est_rows <= driver_solve_max(df.sparkSession)


def _driver_rows(df: DataFrame) -> list:
    return list(df.toPandas().itertuples(index=False))


def _executor_solve(df: DataFrame, solve_fn, out_schema) -> DataFrame:
    cols = [f.name for f in out_schema.fields]

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list = []
        for pdf in it:
            rows.extend(pdf.itertuples(index=False))
        out = solve_fn(rows)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return df.repartition(1).mapInPandas(run, out_schema)


class TileResult:
    """Round 2's view of a per-tile solve result: called with a round-2
    row, it returns that tile's result values (the ``out_schema`` fields
    after ``tile_x, tile_y``), or None when the solve gave the tile
    nothing."""

    def __init__(self, names: list[str], table: dict | None = None):
        self.names = names
        self.table = table       # driver placement: {(tx, ty): values}

    @property
    def empty(self) -> bool:
        """True only when the result is known, without a job, to be
        empty (a driver-placed solve that returned no rows)."""
        return self.table == {}

    def __call__(self, r):
        if self.table is not None:
            return self.table.get((int(r.tile_x), int(r.tile_y)))
        v = tuple(getattr(r, n) for n in self.names)
        return None if v[0] is None else v


def solve_per_tile(
    r1: DataFrame,
    cols: list[str],
    solve_fn: Callable[[list], list[tuple]],
    out_schema,
    est_rows: int,
) -> tuple[DataFrame, TileResult]:
    """Run ``solve_fn(rows) -> [(tile_x, tile_y, *values)]`` over the
    ``cols`` of round 1 and hand the result to round 2.

    Returns ``(frame, result)``: round 2 maps over ``frame`` (round 1
    itself, or round 1 left-joined with the executor-placed result) and
    calls ``result(row)`` for the row's tile values.  At most one result
    row per tile."""
    names = [f.name for f in out_schema.fields[2:]]
    df = r1.select(*cols)
    if _on_driver(df, est_rows):
        table = {(int(t[0]), int(t[1])): tuple(t[2:])
                 for t in solve_fn(_driver_rows(df))}
        return r1, TileResult(names, table)
    res = _executor_solve(df, solve_fn, out_schema)
    return r1.join(res, ["tile_x", "tile_y"], "left"), TileResult(names)


def solve_collect(
    df: DataFrame,
    solve_fn: Callable[[list], list[tuple]],
    out_schema,
    est_rows: int,
) -> list[tuple]:
    """Run ``solve_fn`` over the rows of ``df`` and return its result
    rows on the driver, for a result the driver must hold anyway."""
    if _on_driver(df, est_rows):
        return list(solve_fn(_driver_rows(df)))
    return [tuple(r) for r in _executor_solve(df, solve_fn,
                                              out_schema).collect()]
