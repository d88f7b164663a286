"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's relational surface (SURVEY.md §2.11)
plus the training-data-pipeline operators over the driver's testdata
tables; each has an ANSI-SQL twin in ``oracle_sql()`` for the DuckDB
harness.  Raster operators that SQL cannot express (priority-flood fill,
flow accumulation) appear as rows-only demos here and are fully
golden/oracle-tested in tests/ against the reference fixtures.

Shared arithmetic is written once as SQL snippets and executed verbatim
by BOTH engines (Spark F.expr and DuckDB), so results agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# deterministic geocoding of documents (pure integer arithmetic — identical
# in Spark SQL and DuckDB)
LAT = "(-60.0 + ((doc_id * 2654435761) % 1000003 % 120000) / 1000.0)"
LON = "(-170.0 + ((doc_id * 40503 + 7) % 1000003 % 340000) / 1000.0)"
GRID = 64
GX = f"cast(floor(({LON} + 180.0) / 360.0 * {GRID}) as bigint)"
GY = f"cast(floor((90.0 - {LAT}) / 180.0 * {GRID}) as bigint)"

# site (pour-point) coordinates derived from nation keys
SLAT = "(-60.0 + cast((n_nationkey * 37) % 120 as double))"
SLON = "(-170.0 + cast((n_nationkey * 73) % 340 as double))"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# raster / spatial surface
# ---------------------------------------------------------------------------


def q_rasterize_cells(spark, sf_dir):
    """Geocode docs -> bin to raster cells -> per-cell page count
    (the engine's rasterization path, richdem_spark.webtext)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(LAT).alias("lat"),
        F.expr(LON).alias("lon"),
    )
    from richdem_spark.webtext import rasterize_pages

    tr = rasterize_pages(docs, grid=GRID, tile=16, value="count")
    return (
        tr.cells()
        .where(F.col("value") > 0)
        .select(
            F.col("x").cast("long").alias("gx"),
            F.col("y").cast("long").alias("gy"),
            F.col("value").cast("long").alias("n_pages"),
        )
    )


def q_raster_histogram(spark, sf_dir):
    """rd_hist analogue: histogram of per-cell page counts
    (apps/rd_hist.cpp)."""
    docs = _docs(spark, sf_dir)
    cells = docs.select(F.expr(GX).alias("gx"), F.expr(GY).alias("gy"))
    counts = cells.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("c")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .select(F.col("c").cast("long").alias("pages_per_cell"),
                F.col("n_cells").cast("long"))
    )


def q_tile_minmax(spark, sf_dir):
    """NoData-aware per-tile extrema (Array2D::min/max,
    Array2D.hpp:516-535): partial per tile then final."""
    docs = _docs(spark, sf_dir)
    cells = docs.select(F.expr(GX).alias("gx"), F.expr(GY).alias("gy"))
    counts = cells.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("c"))
    tiles = counts.select(
        (F.col("gx") / 16).cast("long").alias("tile_x"),
        (F.col("gy") / 16).cast("long").alias("tile_y"),
        "c",
    )
    return tiles.groupBy("tile_x", "tile_y").agg(
        F.min("c").cast("long").alias("min_count"),
        F.max("c").cast("long").alias("max_count"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )


def q_raster_compare(spark, sf_dir):
    """rd_compare analogue (apps/rd_compare.cpp:34+): diff stats between
    the all-docs raster and the english-only raster."""
    docs = _docs(spark, sf_dir)
    cells = docs.select(
        "lang", F.expr(GX).alias("gx"), F.expr(GY).alias("gy")
    )
    a = cells.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("ca"))
    b = (
        cells.where(F.col("lang") == "en")
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    j = a.join(b, ["gx", "gy"], "left").select(
        (F.col("ca") - F.coalesce(F.col("cb"), F.lit(0))).alias("d")
    )
    return j.agg(
        F.max(F.abs(F.col("d"))).cast("long").alias("max_abs_diff"),
        F.round(F.avg(F.col("d")), 6).cast("double").alias("avg_diff"),
        F.round(F.sqrt(F.avg(F.col("d") * F.col("d"))), 6)
        .cast("double")
        .alias("rms_diff"),
    )


def q_pip_assign(spark, sf_dir):
    """Point-in-polygon watershed assignment (north_rule): docs vs
    diamond polygons derived from region keys; broadcast spatial join."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(LAT).alias("lat"), F.expr(LON).alias("lon")
    )
    region = _tbl(spark, sf_dir, "region").select(
        "r_regionkey",
        (F.lit(-120.0) + F.col("r_regionkey") * 60.0).alias("cx"),
        (F.lit(-40.0) + F.col("r_regionkey") * 20.0).alias("cy"),
    )
    j = docs.crossJoin(F.broadcast(region)).where(
        F.abs(F.col("lon") - F.col("cx")) + F.abs(F.col("lat") - F.col("cy"))
        <= 18.0
    )
    return (
        j.groupBy("r_regionkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.min("doc_id").cast("long").alias("min_doc"))
        .select(F.col("r_regionkey").cast("long").alias("polygon_id"),
                "n_docs", "min_doc")
    )


def q_knn_sites(spark, sf_dir):
    """kNN pour-point matching (north_rule): 3 nearest nation-sites per
    doc, deterministic (distance, site) ordering."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(LAT).alias("lat"), F.expr(LON).alias("lon")
    )
    sites = _tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("site_id"),
        F.expr(SLAT).alias("slat"),
        F.expr(SLON).alias("slon"),
    )
    from pyspark.sql.window import Window

    d2 = (F.col("lat") - F.col("slat")) ** 2 + (
        F.col("lon") - F.col("slon")
    ) ** 2
    j = docs.crossJoin(F.broadcast(sites)).withColumn("d2", d2)
    w = Window.partitionBy("doc_id").orderBy(F.asc("d2"), F.asc("site_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            F.col("doc_id").cast("long"),
            "site_id",
            F.col("rank").cast("long"),
            F.round("d2", 6).cast("double").alias("d2"),
        )
    )


def q_knn_sites_cells(spark, sf_dir):
    """Same kNN result through the cell-index scale path
    (spatial.knn_join_cells: a cell histogram, a driver-built cell-pair
    plan, one join and rank) — the variant for site tables too large to
    broadcast; value-checked against the identical DuckDB oracle."""
    from richdem_spark.spatial import knn_join_cells

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id"), F.expr(LAT).alias("lat"), F.expr(LON).alias("lon")
    )
    sites = _tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("site_id"),
        F.expr(SLAT).alias("lat"),
        F.expr(SLON).alias("lon"),
    )
    out = knn_join_cells(docs, sites, k=3, level=4,
                         point_id_col="doc_id")
    return out.select(
        F.col("point_id").cast("long").alias("doc_id"),
        "site_id",
        F.col("rank").cast("long"),
        F.round(F.col("dist_deg") ** 2, 6).cast("double").alias("d2"),
    )


def q_raster_vector_pair(spark, sf_dir):
    """raster<->vector pairing: each doc joined with the page count of the
    raster cell beneath it."""
    docs = _docs(spark, sf_dir)
    cells = docs.select(
        "doc_id", F.expr(GX).alias("gx"), F.expr(GY).alias("gy")
    )
    counts = cells.groupBy("gx", "gy").agg(
        F.count(F.lit(1)).alias("cell_pages")
    )
    return cells.join(counts, ["gx", "gy"]).select(
        F.col("doc_id").cast("long"),
        F.col("gx").cast("long"),
        F.col("gy").cast("long"),
        F.col("cell_pages").cast("long"),
    )


ACC_GRID = 48
ACC_TILE = 16
# deterministic acyclic D8 direction field over a 48x48 grid: every cell
# flows strictly westward (W=1, NW=2, SW=8 in the reference numbering),
# choice by integer hash -> the flow graph is a random forest and the
# distributed two-round accumulation can be value-checked against a
# recursive-CTE oracle
DIR_H = "((gx * 2654435761 + gy * 40503) % 97)"


def q_flow_accum_dirs(spark, sf_dir):
    """Distributed D8 flow accumulation (ops/accum.py two-round
    perimeter-graph algorithm) on a hash-derived direction field —
    value-checked against DuckDB's recursive closure."""
    import numpy as np

    from richdem_spark.ops.accum import flow_accumulation_d8
    from richdem_spark.tiles import raster_from_array

    g = ACC_GRID
    gy, gx = np.mgrid[0:g, 0:g]
    h = (gx.astype(np.int64) * 2654435761 + gy.astype(np.int64) * 40503) \
        % 97
    pick = h % 3  # 0->W, 1->NW, 2->SW
    dirs = np.where(pick == 0, 1, np.where(pick == 1, 2, 8))
    dirs = np.where((pick == 1) & (gy == 0), 1, dirs)      # no NW on top
    dirs = np.where((pick == 2) & (gy == g - 1), 1, dirs)  # no SW on bottom
    dirs = np.where(gx == 0, 0, dirs).astype(np.uint8)     # west edge sinks
    tr = raster_from_array(spark, dirs, tile_w=ACC_TILE, tile_h=ACC_TILE)
    acc = flow_accumulation_d8(tr)
    return acc.cells().select(
        F.col("x").cast("long").alias("gx"),
        F.col("y").cast("long").alias("gy"),
        F.col("value").cast("long").alias("accum"),
    )


FG = 16  # fill-oracle grid side (small: the oracle is a recursive CTE)
FGX = (f"least(greatest(cast(floor(({LON} + 180.0) / 360.0 * {FG}) "
       f"as bigint), 0), {FG - 1})")
FGY = (f"least(greatest(cast(floor((90.0 - {LAT}) / 180.0 * {FG}) "
       f"as bigint), 0), {FG - 1})")

# tie-free shared grid: per-cell doc count + a unique per-cell epsilon
# (identical arithmetic in Spark float64 and DuckDB double — bit-exact)
_FILL_GRID_SQL = f"""
    select g.gx, g.gy,
           (coalesce(c.n, 0) + (g.gy * {FG} + g.gx) * 1e-6)::double as z
    from (select t2.range as gx, t1.range as gy
          from range({FG}) t1, range({FG}) t2) g
    left join (
        select {FGX} as gx, {FGY} as gy, count(*)::double as n
        from documents group by 1, 2
    ) c on c.gx = g.gx and c.gy = g.gy
"""


def _add_cell_eps(tr, scale: float):
    """Add ``(gy*FG + gx) * scale`` to every cell — the deterministic
    per-cell epsilon shared bit-for-bit with the DuckDB oracles (both
    sides run the identical IEEE-double expression)."""
    from richdem_spark.tiles import TILE_SCHEMA, TiledRaster, tile_frame, \
        unpack

    tw, th = tr.meta.tile_w, tr.meta.tile_h

    def addeps(it):
        import numpy as np

        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                a = unpack(r.data, r.height, r.width, r.dtype)
                yy, xx = np.mgrid[0:r.height, 0:r.width]
                gxs = xx + r.tile_x * tw
                gys = yy + r.tile_y * th
                rows.append((r.tile_x, r.tile_y,
                             a + (gys * FG + gxs) * scale, None))
            yield tile_frame(rows)

    return TiledRaster(tr.df.mapInPandas(addeps, TILE_SCHEMA), tr.meta)


def _fill_grid(spark, sf_dir):
    """The 16x16 tie-free elevation raster shared with the DuckDB
    oracle (per-cell doc count + unique epsilon)."""
    from richdem_spark.webtext import rasterize_pages

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(LAT).alias("lat"), F.expr(LON).alias("lon")
    )
    tr = rasterize_pages(docs, grid=FG, tile=6, value="count")
    return _add_cell_eps(tr, 1e-6)


def q_fill_grid(spark, sf_dir):
    """Distributed Priority-Flood fill, value-checked through the driver
    gate: the oracle computes the same fill as the minimax-path closure
    (filled = min over border paths of the max elevation en route) via a
    DuckDB recursive CTE on the shared tie-free grid."""
    from richdem_spark.api import FillDepressions

    filled = FillDepressions(_fill_grid(spark, sf_dir))
    return filled.cells().select(
        F.col("x").cast("long").alias("gx"),
        F.col("y").cast("long").alias("gy"),
        F.col("value").cast("double").alias("filled"),
    )


def q_dephier_pits(spark, sf_dir):
    """Leaf depressions of the distributed hierarchy, value-checked:
    on a tie-free DEM the leaves are exactly the interior strict local
    minima (SQL-expressible), with pit_cell/pit_elev matched."""
    from richdem_spark.api import GetDepressionHierarchy
    from richdem_spark.kernels.dephier import NO_VALUE

    deps, _labels, _dirs = GetDepressionHierarchy(
        _fill_grid(spark, sf_dir))
    # leaves only: metadepressions inherit a child's pit_cell, so
    # filter on childlessness, not on pit_cell presence
    rows = [
        (int(d.pit_cell), float(d.pit_elev))
        for i, d in enumerate(deps)
        if i and d.lchild == NO_VALUE and d.pit_cell != NO_VALUE
    ]
    return spark.createDataFrame(
        rows or [(-1, 0.0)], "pit_cell bigint, pit_elev double")


def q_flow_dirs_grid(spark, sf_dir):
    """Distributed D8 flow directions, value-checked through the driver
    gate: on the tie-free shared grid steepest descent is a plain SQL
    argmin over the 8 neighbours (the even/odd tie-steal quirk cannot
    fire without ties; that path is golden-tested in tests/), with the
    reference's forced-outward edge rule."""
    from richdem_spark.api import FlowDirectionsD8

    dirs = FlowDirectionsD8(_fill_grid(spark, sf_dir))
    return dirs.cells().select(
        F.col("x").cast("long").alias("gx"),
        F.col("y").cast("long").alias("gy"),
        F.col("value").cast("long").alias("d8"),
    )


def q_fill_accum_demo(spark, sf_dir):
    """Hydrology flagship (rows-only check — Priority-Flood + D8
    accumulation are not SQL-expressible; their exactness is proven in
    tests/ against the reference golden fixtures)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(LAT).alias("lat"), F.expr(LON).alias("lon")
    )
    from richdem_spark.api import FillDepressions, FlowAccumulation
    from richdem_spark.webtext import rasterize_pages

    dem = rasterize_pages(docs, grid=GRID, tile=16, value="log1p")
    filled = FillDepressions(dem)
    acc = FlowAccumulation(filled, "D8")
    return (
        acc.cells()
        .select(
            F.col("x").cast("long"),
            F.col("y").cast("long"),
            F.col("value").cast("double").alias("accum"),
        )
        .orderBy(F.desc("accum"), F.asc("x"), F.asc("y"))
        .limit(100)
    )


def q_fill_accum_grid(spark, sf_dir):
    """Fill -> D8 dirs -> accumulation, END-TO-END value-checked: the
    oracle replays the whole composition in SQL (minimax-closure fill,
    argmin dirs with forced edges, recursive-closure accumulation).
    Plain fill leaves exact-tie flats at spill level, so both sides add
    the same deterministic per-cell jitter (idx * 1e-9 — smaller than
    any distinct-value gap, identical IEEE arithmetic) before taking
    directions; the engine's filled values are already proven bit-equal
    to the oracle's by the fill_grid row."""
    from richdem_spark.api import FillDepressions, FlowDirectionsD8
    from richdem_spark.ops.accum import flow_accumulation_d8

    filled = FillDepressions(_fill_grid(spark, sf_dir))
    jittered = _add_cell_eps(filled, 1e-9)
    dirs = FlowDirectionsD8(jittered)
    acc = flow_accumulation_d8(dirs)
    return acc.cells().select(
        F.col("x").cast("long").alias("gx"),
        F.col("y").cast("long").alias("gy"),
        F.col("value").cast("long").alias("accum"),
    )


def _dirs_mod9(spark, sf_dir):
    """Deterministic 0..8 code field shared with the oracles: the tie
    grid's per-cell doc count mod 9 (the 1e-6 epsilon never reaches 1,
    so floor(z) IS the count on both sides)."""
    import numpy as np

    from richdem_spark.ops.focal import elementwise

    return elementwise(
        _fill_grid(spark, sf_dir),
        lambda a: np.floor(a) % 9,
        out_dtype="uint8",
        out_nodata=None,
        op_name="dirs_mod9",
    )


def q_taudem_grid(spark, sf_dir):
    """TauDEM -> RichDEM facet conversion
    (apps/rd_taudem_d8_to_richdem_d8.cpp), value-checked: the shared
    grid's count-mod-9 field is a deterministic TauDEM code raster; the
    oracle applies the reference LUT {0,5,4,3,2,1,8,7,6} in SQL."""
    from richdem_spark.api import TaudemFlowdirs

    conv = TaudemFlowdirs(_dirs_mod9(spark, sf_dir))
    return conv.cells().select(
        F.col("x").cast("long").alias("gx"),
        F.col("y").cast("long").alias("gy"),
        F.col("value").cast("long").alias("d8"),
    )


def q_loop_cells_grid(spark, sf_dir):
    """Per-tile count of flowdir cells on a cycle that closes inside
    the tile — the in-tile half of LoopCheck (apps/rd_loop_check.cpp)
    — value-checked: the oracle walks the same functional graph with a
    recursive CTE (a cell is on a cycle iff it reaches itself) under
    the same stay-in-tile rule."""
    import pandas as pd

    from richdem_spark.kernels.d8 import d8_loop_residual
    from richdem_spark.tiles import unpack

    dirs = _dirs_mod9(spark, sf_dir)

    def per_tile(it):
        for pdf in it:
            out = {"tile_x": [], "tile_y": [], "loop_cells": []}
            for r in pdf.itertuples():
                a = unpack(r.data, r.height, r.width, r.dtype)
                out["tile_x"].append(int(r.tile_x))
                out["tile_y"].append(int(r.tile_y))
                out["loop_cells"].append(d8_loop_residual(a))
            yield pd.DataFrame(out)

    return dirs.df.mapInPandas(
        per_tile, "tile_x bigint, tile_y bigint, loop_cells bigint")


def q_fsm_surface(spark, sf_dir):
    """Depression hierarchy + Fill-Spill-Merge, value-checked through
    the reference's own equivalence (tests/fsm_tests.cpp:467-471):
    overwhelming surface water must settle to exactly the
    Priority-Flood fill surface, which the DuckDB oracle computes as
    the minimax-path closure.  Measured |surface - fill| on this grid
    is ~1e-20, so round-6 comparison is exact."""
    import numpy as np

    from richdem_spark.api import FillSpillMerge
    from richdem_spark.tiles import raster_from_array

    dem = _fill_grid(spark, sf_dir)
    wtd = raster_from_array(spark, np.full((FG, FG), 1e6), 6, 6)
    water = FillSpillMerge(dem, wtd)
    zc = dem.cells().select(
        F.col("x").alias("gx"), F.col("y").alias("gy"),
        F.col("value").alias("z"))
    wc = water.cells().select(
        F.col("x").alias("gx"), F.col("y").alias("gy"),
        F.col("value").alias("w"))
    return zc.join(wc, ["gx", "gy"]).select(
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        F.round(F.col("z") + F.col("w"), 6).cast("double")
        .alias("surface"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline surface
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    from richdem_spark.textops import dedup_exact

    return dedup_exact(_docs(spark, sf_dir)).select(
        "h",
        F.col("doc_id").cast("long").alias("keep_id"),
        F.col("dup_count").cast("long"),
    )


def q_token_count(spark, sf_dir):
    from richdem_spark.textops import token_count

    return token_count(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"),
        F.col("n_tokens").cast("long"),
    )


def q_quality_score(spark, sf_dir):
    from richdem_spark.textops import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"),
        F.col("n_chars").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("mean_word_len").cast("double"),
        F.col("quality").cast("double"),
    )


def q_lang_id(spark, sf_dir):
    from richdem_spark.textops import lang_id

    return lang_id(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "pred_lang",
        F.col("lang_score").cast("double"),
    )


def q_minhash_signatures(spark, sf_dir):
    from richdem_spark.textops import minhash_signatures, shingles

    sh = shingles(_docs(spark, sf_dir), distinct=False)
    sig = minhash_signatures(sh, num_hashes=4)
    return sig.select(
        F.col("doc_id").cast("long"),
        *[F.col(f"mh{j}").cast("long") for j in range(4)],
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster collapse: minhash-LSH pairs -> connected
    components -> (member, cluster=min reachable id), the canonical
    keeper assignment a dedup pipeline retains.  Oracle = transitive
    closure (recursive CTE) over the same pair set."""
    from richdem_spark.textops import (
        minhash_lsh_pairs,
        near_dup_clusters,
        shingles,
    )

    sh = shingles(_docs(spark, sf_dir), distinct=False)
    pairs = minhash_lsh_pairs(sh, num_hashes=4, bands=2) \
        .select("a", "b").distinct()
    return near_dup_clusters(pairs).select(
        F.col("member").cast("long"), F.col("cluster").cast("long")
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    from richdem_spark.textops import minhash_lsh_pairs, shingles

    sh = shingles(_docs(spark, sf_dir), distinct=False)
    return minhash_lsh_pairs(sh, num_hashes=4, bands=2).select(
        F.col("a").cast("long"), F.col("b").cast("long"),
        F.col("band").cast("long"),
    )


def q_ngram_jaccard(spark, sf_dir):
    from richdem_spark.textops import ngram_jaccard_pairs, shingles

    sh = shingles(_docs(spark, sf_dir), distinct=False)
    return ngram_jaccard_pairs(sh, threshold=0.3).select(
        F.col("a").cast("long"), F.col("b").cast("long"),
        F.col("jaccard").cast("double"),
    )


def q_lsh_guard(spark, sf_dir):
    """Hot-bucket guard accounting for the LSH dedup path ("no silent
    caps"): how many candidate buckets exist, how many a cap of 2 would
    drop, and the candidate pairs inside them."""
    from richdem_spark.textops import lsh_guard_metrics, shingles

    sh = shingles(_docs(spark, sf_dir), distinct=False)
    m = lsh_guard_metrics(sh, num_hashes=4, bands=2, max_bucket_size=2)
    return m.select(
        F.col("candidate_buckets").cast("long"),
        F.col("dropped_buckets").cast("long"),
        F.col("dropped_candidates").cast("long"),
    )


def q_ngram_guard(spark, sf_dir):
    """Stop-shingle guard accounting for the Jaccard path."""
    from richdem_spark.textops import ngram_guard_metrics, shingles

    sh = shingles(_docs(spark, sf_dir), distinct=False)
    m = ngram_guard_metrics(sh, max_doc_freq=3)
    return m.select(
        F.col("total_shingles").cast("long"),
        F.col("dropped_shingles").cast("long"),
        F.col("dropped_postings").cast("long"),
    )


def q_simhash(spark, sf_dir):
    from richdem_spark.textops import simhash64

    return simhash64(_docs(spark, sf_dir), bits=16).select(
        F.col("doc_id").cast("long"),
        F.col("simhash").cast("long"),
    )


def q_doc_fingerprint(spark, sf_dir):
    from richdem_spark.textops import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"),
        F.col("fingerprint").cast("long"),
    )


def q_cosine_topk(spark, sf_dir):
    from richdem_spark.vector import cosine_topk

    emb = _tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"),
    )
    return cosine_topk(emb, probe_ids=[0, 1, 2, 3, 4], k=5).select(
        F.col("probe_id").cast("long"),
        F.col("cand_id").cast("long"),
        F.col("rank").cast("long"),
        F.col("cosine").cast("double"),
    )


def q_ivf_topk(spark, sf_dir):
    """IVF ANN in its exact configuration (nprobe = n_centroids: every
    cell probed -> brute-force-equal, hence SQL-oracle-checkable; recall
    at small nprobe is measured in tests/test_guards_scale.py)."""
    from richdem_spark.vector import ivf_topk

    emb = _tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"),
    )
    return ivf_topk(
        emb, probe_ids=[5, 6, 7, 8, 9], k=5, n_centroids=8, nprobe=8,
        iters=3,
    ).select(
        F.col("probe_id").cast("long"),
        F.col("cand_id").cast("long"),
        F.col("rank").cast("long"),
        F.col("cosine").cast("double"),
    )


def q_embedding_lsh(spark, sf_dir):
    from richdem_spark.vector import lsh_buckets

    emb = _tbl(spark, sf_dir, "embeddings")
    return (
        lsh_buckets(emb, planes=4)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .select(F.col("bucket").cast("long"), "n_vectors")
    )


# ---------------------------------------------------------------------------
# relational / aggregation / window classes (§2.11)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).cast("double").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


def q_orders_by_segment(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).cast("double")
            .alias("revenue"),
        )
    )


def q_events_hourly(spark, sf_dir):
    e = _tbl(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).cast("double").alias("sum_value"),
        )
    )


def q_top_events_per_user(spark, sf_dir):
    from pyspark.sql.window import Window

    e = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        e.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            F.col("user_id").cast("long"),
            F.col("event_id").cast("long"),
            F.col("rank").cast("long"),
            F.round("value", 6).cast("double").alias("value"),
        )
    )


def q_replace_classify(spark, sf_dir):
    """Elementwise replace/classify class (Array2D::replace) over events:
    remap event types, count."""
    e = _tbl(spark, sf_dir, "events")
    mapped = e.select(
        F.when(F.col("event_type") == "click", "interaction")
        .when(F.col("event_type") == "view", "interaction")
        .otherwise(F.col("event_type"))
        .alias("event_class")
    )
    return mapped.groupBy("event_class").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode+rasterize the documents table, distributed
    priority-flood fill + D8 flow accumulation, return the stream cells."""
    return q_fill_accum_demo(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rasterize_cells": q_rasterize_cells,
        "raster_histogram": q_raster_histogram,
        "tile_minmax": q_tile_minmax,
        "raster_compare": q_raster_compare,
        "pip_assign": q_pip_assign,
        "knn_sites": q_knn_sites,
        "knn_sites_cells": q_knn_sites_cells,
        "raster_vector_pair": q_raster_vector_pair,
        "flow_accum_dirs": q_flow_accum_dirs,
        "fill_grid": q_fill_grid,
        "flow_dirs_grid": q_flow_dirs_grid,
        "dephier_pits": q_dephier_pits,
        "fill_accum_grid": q_fill_accum_grid,
        "fsm_surface": q_fsm_surface,
        "taudem_grid": q_taudem_grid,
        "loop_cells_grid": q_loop_cells_grid,
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "lsh_guard": q_lsh_guard,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_guard": q_ngram_guard,
        "simhash": q_simhash,
        "doc_fingerprint": q_doc_fingerprint,
        "cosine_topk": q_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_lsh": q_embedding_lsh,
        "pricing_summary": q_pricing_summary,
        "orders_by_segment": q_orders_by_segment,
        "events_hourly": q_events_hourly,
        "top_events_per_user": q_top_events_per_user,
        "replace_classify": q_replace_classify,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_CELLS = f"""
    select doc_id, lang, {GX} as gx, {GY} as gy from documents
"""

_SHINGLES = r"""
    select distinct doc_id, shingle from (
        select doc_id, unnest(
            [array_to_string(toks[i:i+2], ' ')
             for i in range(1, len(toks) - 1)]
        ) as shingle
        from (select doc_id,
                     string_split_regex(trim(text), '\s+') as toks
              from documents)
    )
"""


def _mh(j: int) -> str:
    return (
        "min((('0x' || substring(md5(shingle), 1, 8))::bigint * "
        f"{2 * j + 1} + {31 * j}) % 2147483647)"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "fill_grid": f"""
            with recursive grid as ({_FILL_GRID_SQL}),
            reach as (
                select gx, gy, z as b from grid
                where gx in (0, {FG - 1}) or gy in (0, {FG - 1})
                union
                select g.gx, g.gy, greatest(g.z, r.b) as b
                from reach r
                join grid g on abs(g.gx - r.gx) <= 1
                           and abs(g.gy - r.gy) <= 1
                           and not (g.gx = r.gx and g.gy = r.gy)
            )
            select gx::bigint as gx, gy::bigint as gy,
                   min(b)::double as filled
            from reach group by gx, gy
        """,
        "flow_dirs_grid": f"""
            with grid as ({_FILL_GRID_SQL}),
            nb as (
                select m.gx, m.gy, m.z,
                       n.z as nz,
                       case
                         when n.gx < m.gx and n.gy = m.gy then 1
                         when n.gx < m.gx and n.gy < m.gy then 2
                         when n.gx = m.gx and n.gy < m.gy then 3
                         when n.gx > m.gx and n.gy < m.gy then 4
                         when n.gx > m.gx and n.gy = m.gy then 5
                         when n.gx > m.gx and n.gy > m.gy then 6
                         when n.gx = m.gx and n.gy > m.gy then 7
                         else 8
                       end as slot
                from grid m
                join grid n on abs(n.gx - m.gx) <= 1
                           and abs(n.gy - m.gy) <= 1
                           and not (n.gx = m.gx and n.gy = m.gy)
            ),
            pick as (
                select gx, gy,
                       min(nz) as mz, max(z) as z,
                       arg_min(slot, nz) as best_slot
                from nb group by gx, gy
            )
            select gx::bigint as gx, gy::bigint as gy,
                   (case
                      when gx = 0 and gy = 0 then 2
                      when gx = {FG - 1} and gy = 0 then 4
                      when gx = 0 and gy = {FG - 1} then 8
                      when gx = {FG - 1} and gy = {FG - 1} then 6
                      when gy = 0 then 3
                      when gy = {FG - 1} then 7
                      when gx = 0 then 1
                      when gx = {FG - 1} then 5
                      when mz < z then best_slot
                      else 0
                    end)::bigint as d8
            from pick
        """,
        "taudem_grid": f"""
            with grid as ({_FILL_GRID_SQL})
            select gx::bigint as gx, gy::bigint as gy,
                   (case (floor(z)::bigint % 9)
                      when 0 then 0 when 1 then 5 when 2 then 4
                      when 3 then 3 when 4 then 2 when 5 then 1
                      when 6 then 8 when 7 then 7 else 6
                    end)::bigint as d8
            from grid
        """,
        "loop_cells_grid": f"""
            with recursive grid as ({_FILL_GRID_SQL}),
            dirs as (
                select gx, gy, (floor(z)::bigint % 9) as d from grid
            ),
            edges as (
                select gx, gy, gx + dx as tx, gy + dy as ty
                from (
                    select gx, gy, d,
                           case d when 1 then -1 when 2 then -1
                                  when 8 then -1 when 4 then 1
                                  when 5 then 1 when 6 then 1
                                  else 0 end as dx,
                           case d when 2 then -1 when 3 then -1
                                  when 4 then -1 when 6 then 1
                                  when 7 then 1 when 8 then 1
                                  else 0 end as dy
                    from dirs) s
                where d > 0
                  and gx + dx between 0 and {FG - 1}
                  and gy + dy between 0 and {FG - 1}
                  and (gx + dx) // 6 = gx // 6
                  and (gy + dy) // 6 = gy // 6
            ),
            walk as (
                select gx as sx, gy as sy, tx as cx, ty as cy
                from edges
                union
                select w.sx, w.sy, e.tx, e.ty
                from walk w join edges e
                  on e.gx = w.cx and e.gy = w.cy
            ),
            loops as (
                select sx, sy from walk where cx = sx and cy = sy
            ),
            tiles as (
                select distinct (gx // 6) as tile_x, (gy // 6) as tile_y
                from grid
            )
            select t.tile_x::bigint as tile_x,
                   t.tile_y::bigint as tile_y,
                   count(l.sx)::bigint as loop_cells
            from tiles t
            left join loops l
              on l.sx // 6 = t.tile_x and l.sy // 6 = t.tile_y
            group by 1, 2
        """,
        "dephier_pits": f"""
            with grid as ({_FILL_GRID_SQL})
            select (m.gy * {FG} + m.gx)::bigint as pit_cell,
                   m.z::double as pit_elev
            from grid m
            where m.gx not in (0, {FG - 1}) and m.gy not in (0, {FG - 1})
              and not exists (
                  select 1 from grid n
                  where abs(n.gx - m.gx) <= 1 and abs(n.gy - m.gy) <= 1
                    and not (n.gx = m.gx and n.gy = m.gy)
                    and n.z <= m.z
              )
        """,
        "fill_accum_grid": f"""
            with recursive grid as ({_FILL_GRID_SQL}),
            reach as (
                select gx, gy, z as b from grid
                where gx in (0, {FG - 1}) or gy in (0, {FG - 1})
                union
                select g.gx, g.gy, greatest(g.z, r.b) as b
                from reach r
                join grid g on abs(g.gx - r.gx) <= 1
                           and abs(g.gy - r.gy) <= 1
                           and not (g.gx = r.gx and g.gy = r.gy)
            ),
            -- the fill (bit-equal to the engine's, proven by fill_grid),
            -- then the same deterministic jitter both sides apply to
            -- break the exact ties plain fill leaves at spill level
            jit as (
                select gx, gy,
                       min(b) + (gy * {FG} + gx) * 1e-9 as z
                from reach group by gx, gy
            ),
            nb as (
                select m.gx, m.gy, m.z, n.z as nz,
                       case
                         when n.gx < m.gx and n.gy = m.gy then 1
                         when n.gx < m.gx and n.gy < m.gy then 2
                         when n.gx = m.gx and n.gy < m.gy then 3
                         when n.gx > m.gx and n.gy < m.gy then 4
                         when n.gx > m.gx and n.gy = m.gy then 5
                         when n.gx > m.gx and n.gy > m.gy then 6
                         when n.gx = m.gx and n.gy > m.gy then 7
                         else 8
                       end as slot
                from jit m
                join jit n on abs(n.gx - m.gx) <= 1
                          and abs(n.gy - m.gy) <= 1
                          and not (n.gx = m.gx and n.gy = m.gy)
            ),
            pick as (
                select gx, gy, min(nz) as mz, max(z) as z,
                       arg_min(slot, nz) as best_slot
                from nb group by gx, gy
            ),
            dirs as (
                select gx, gy,
                       case
                         when gx = 0 and gy = 0 then 2
                         when gx = {FG - 1} and gy = 0 then 4
                         when gx = 0 and gy = {FG - 1} then 8
                         when gx = {FG - 1} and gy = {FG - 1} then 6
                         when gy = 0 then 3
                         when gy = {FG - 1} then 7
                         when gx = 0 then 1
                         when gx = {FG - 1} then 5
                         when mz < z then best_slot
                         else 0
                       end as d8
                from pick
            ),
            -- D8 offsets: 1=W 2=NW 3=N 4=NE 5=E 6=SE 7=S 8=SW
            step(cx, cy) as (
                select gx, gy from dirs
                union all
                select s.cx + (case when d.d8 in (1, 2, 8) then -1
                                    when d.d8 in (4, 5, 6) then 1
                                    else 0 end),
                       s.cy + (case when d.d8 in (2, 3, 4) then -1
                                    when d.d8 in (6, 7, 8) then 1
                                    else 0 end)
                from step s join dirs d on d.gx = s.cx and d.gy = s.cy
                where d.d8 != 0
            )
            select cx::bigint as gx, cy::bigint as gy,
                   count(*)::bigint as accum
            from step
            where cx between 0 and {FG - 1}
              and cy between 0 and {FG - 1}
            group by cx, cy
        """,
        "fsm_surface": f"""
            with recursive grid as ({_FILL_GRID_SQL}),
            reach as (
                select gx, gy, z as b from grid
                where gx in (0, {FG - 1}) or gy in (0, {FG - 1})
                union
                select g.gx, g.gy, greatest(g.z, r.b) as b
                from reach r
                join grid g on abs(g.gx - r.gx) <= 1
                           and abs(g.gy - r.gy) <= 1
                           and not (g.gx = r.gx and g.gy = r.gy)
            )
            select gx::bigint as gx, gy::bigint as gy,
                   round(min(b), 6)::double as surface
            from reach group by gx, gy
        """,
        "rasterize_cells": f"""
            select gx, gy, count(*)::bigint as n_pages
            from ({_CELLS}) group by gx, gy
        """,
        "raster_histogram": f"""
            with counts as (
                select gx, gy, count(*) as c from ({_CELLS}) group by gx, gy
            )
            select c::bigint as pages_per_cell, count(*)::bigint as n_cells
            from counts group by c
        """,
        "tile_minmax": f"""
            with counts as (
                select gx, gy, count(*) as c from ({_CELLS}) group by gx, gy
            )
            select (gx // 16)::bigint as tile_x, (gy // 16)::bigint as tile_y,
                   min(c)::bigint as min_count, max(c)::bigint as max_count,
                   count(*)::bigint as n_cells
            from counts group by 1, 2
        """,
        "raster_compare": f"""
            with a as (
                select gx, gy, count(*) as ca from ({_CELLS}) group by gx, gy
            ), b as (
                select gx, gy, count(*) as cb from ({_CELLS})
                where lang = 'en' group by gx, gy
            ), j as (
                select (ca - coalesce(cb, 0)) as d
                from a left join b using (gx, gy)
            )
            select max(abs(d))::bigint as max_abs_diff,
                   round(avg(d), 6)::double as avg_diff,
                   round(sqrt(avg(d * d)), 6)::double as rms_diff
            from j
        """,
        "pip_assign": f"""
            with docs as (
                select doc_id, {LAT} as lat, {LON} as lon from documents
            ), polys as (
                select r_regionkey,
                       -120.0 + r_regionkey * 60.0 as cx,
                       -40.0 + r_regionkey * 20.0 as cy
                from region
            )
            select r_regionkey::bigint as polygon_id,
                   count(*)::bigint as n_docs,
                   min(doc_id)::bigint as min_doc
            from docs, polys
            where abs(lon - cx) + abs(lat - cy) <= 18.0
            group by r_regionkey
        """,
        "knn_sites": f"""
            with docs as (
                select doc_id, {LAT} as lat, {LON} as lon from documents
            ), sites as (
                select n_nationkey::bigint as site_id,
                       {SLAT} as slat, {SLON} as slon
                from nation
            ), j as (
                select doc_id, site_id,
                       (lat - slat) * (lat - slat)
                       + (lon - slon) * (lon - slon) as d2
                from docs, sites
            ), r as (
                select doc_id, site_id, d2,
                       row_number() over (
                           partition by doc_id order by d2 asc, site_id asc
                       ) as rank
                from j
            )
            select doc_id::bigint as doc_id, site_id, rank::bigint as rank,
                   round(d2, 6)::double as d2
            from r where rank <= 3
        """,
        "knn_sites_cells": f"""
            with docs as (
                select doc_id, {LAT} as lat, {LON} as lon from documents
            ), sites as (
                select n_nationkey::bigint as site_id,
                       {SLAT} as slat, {SLON} as slon
                from nation
            ), j as (
                select doc_id, site_id,
                       (lat - slat) * (lat - slat)
                       + (lon - slon) * (lon - slon) as d2
                from docs, sites
            ), r as (
                select doc_id, site_id, d2,
                       row_number() over (
                           partition by doc_id order by d2 asc, site_id asc
                       ) as rank
                from j
            )
            select doc_id::bigint as doc_id, site_id, rank::bigint as rank,
                   round(d2, 6)::double as d2
            from r where rank <= 3
        """,
        "flow_accum_dirs": f"""
            with recursive grid as (
                select gx, gy,
                       case when gx = 0 then 0
                            when {DIR_H} % 3 = 0 then 1
                            when {DIR_H} % 3 = 1 then
                                 (case when gy = 0 then 1 else 2 end)
                            else (case when gy = {ACC_GRID - 1} then 1
                                       else 8 end)
                       end as dir
                from (select a.range as gx, b.range as gy
                      from range({ACC_GRID}) a, range({ACC_GRID}) b)
            ),
            -- D8 offsets: 1=W (-1,0), 2=NW (-1,-1), 8=SW (-1,+1)
            step(cx, cy) as (
                select gx, gy from grid
                union all
                select g.gx + (case when g.dir in (1,2,8) then -1
                                    else 0 end),
                       g.gy + (case g.dir when 2 then -1 when 8 then 1
                                          else 0 end)
                from step s join grid g on g.gx = s.cx and g.gy = s.cy
                where g.dir != 0
            )
            select cx::bigint as gx, cy::bigint as gy,
                   count(*)::bigint as accum
            from step group by cx, cy
        """,
        "raster_vector_pair": f"""
            with cells as ({_CELLS}),
            counts as (
                select gx, gy, count(*) as cell_pages
                from cells group by gx, gy
            )
            select doc_id::bigint as doc_id, gx, gy,
                   cell_pages::bigint as cell_pages
            from cells join counts using (gx, gy)
        """,
        "dedup_exact": """
            select md5(text) as h, min(doc_id)::bigint as keep_id,
                   count(*)::bigint as dup_count
            from documents group by md5(text)
        """,
        "token_count": r"""
            select doc_id::bigint as doc_id,
                   len(string_split_regex(trim(text), '\s+'))::bigint
                       as n_tokens
            from documents
        """,
        "quality_score": r"""
            with t as (
                select doc_id, length(text) as n_chars,
                       length(text) - length(replace(text, ' ', ''))
                           as n_spaces,
                       len(string_split_regex(trim(text), '\s+'))
                           as n_tokens
                from documents
            )
            select doc_id::bigint as doc_id, n_chars::bigint as n_chars,
                   n_tokens::bigint as n_tokens,
                   round((n_chars - n_spaces) / n_tokens, 6)::double
                       as mean_word_len,
                   round(
                     least(n_tokens / 100.0, 1.0) * 0.5
                     + case when round((n_chars - n_spaces) / n_tokens, 6)
                              between 3 and 10
                            then 0.5 else 0.0 end, 6)::double as quality
            from t
        """,
        "lang_id": """
            with m(lg, w1, w2, w3) as (values
                ('en', 'the', 'and', 'of'),
                ('de', 'der', 'und', 'die'),
                ('fr', 'le', 'et', 'les'),
                ('es', 'el', 'de', 'los')
            ), s as (
                select doc_id, lg,
                  (length(lower(text)) - length(replace(lower(text),
                      ' ' || w1 || ' ', ''))) / (length(w1) + 2)
                + (length(lower(text)) - length(replace(lower(text),
                      ' ' || w2 || ' ', ''))) / (length(w2) + 2)
                + (length(lower(text)) - length(replace(lower(text),
                      ' ' || w3 || ' ', ''))) / (length(w3) + 2) as sc
                from documents, m
            ), r as (
                select doc_id, lg, sc, row_number() over (
                    partition by doc_id order by sc desc, lg desc
                ) as rk
                from s
            )
            select doc_id::bigint as doc_id, lg as pred_lang,
                   round(sc, 6)::double as lang_score
            from r where rk = 1
        """,
        "minhash_signatures": f"""
            with sh as ({_SHINGLES})
            select doc_id::bigint as doc_id,
                   {_mh(0)}::bigint as mh0, {_mh(1)}::bigint as mh1,
                   {_mh(2)}::bigint as mh2, {_mh(3)}::bigint as mh3
            from sh group by doc_id
        """,
        "dedup_clusters": f"""
            with recursive sh as ({_SHINGLES}),
            sig as (
                select doc_id, {_mh(0)} as mh0, {_mh(1)} as mh1,
                       {_mh(2)} as mh2, {_mh(3)} as mh3
                from sh group by doc_id
            ),
            bands as (
                select doc_id as doc, 0 as band,
                       mh0::varchar || '_' || mh1::varchar as bucket
                from sig
                union all
                select doc_id as doc, 1 as band,
                       mh2::varchar || '_' || mh3::varchar as bucket
                from sig
            ),
            p as (
                select distinct l.doc as a, r.doc as b
                from bands l join bands r
                  on l.band = r.band and l.bucket = r.bucket
                where l.doc < r.doc
            ),
            edges as (
                select a as x, b as y from p
                union
                select b as x, a as y from p
            ),
            reach as (
                select x, y from edges
                union
                select r.x, e.y from reach r join edges e on r.y = e.x
            )
            select x::bigint as member,
                   least(x, min(y))::bigint as cluster
            from reach group by x
        """,
        "minhash_lsh_pairs": f"""
            with sh as ({_SHINGLES}),
            sig as (
                select doc_id, {_mh(0)} as mh0, {_mh(1)} as mh1,
                       {_mh(2)} as mh2, {_mh(3)} as mh3
                from sh group by doc_id
            ),
            bands as (
                select doc_id as doc, 0 as band,
                       mh0::varchar || '_' || mh1::varchar as bucket
                from sig
                union all
                select doc_id as doc, 1 as band,
                       mh2::varchar || '_' || mh3::varchar as bucket
                from sig
            )
            select distinct l.doc::bigint as a, r.doc::bigint as b,
                   l.band::bigint as band
            from bands l join bands r
              on l.band = r.band and l.bucket = r.bucket
            where l.doc < r.doc
        """,
        "lsh_guard": f"""
            with sh as ({_SHINGLES}),
            sig as (
                select doc_id, {_mh(0)} as mh0, {_mh(1)} as mh1,
                       {_mh(2)} as mh2, {_mh(3)} as mh3
                from sh group by doc_id
            ),
            bands as (
                select doc_id as doc, 0 as band,
                       mh0::varchar || '_' || mh1::varchar as bucket
                from sig
                union all
                select doc_id as doc, 1 as band,
                       mh2::varchar || '_' || mh3::varchar as bucket
                from sig
            ),
            sizes as (
                select band, bucket, count(*) as n
                from bands group by band, bucket
                having count(*) >= 2
            )
            select count(*)::bigint as candidate_buckets,
                   coalesce(sum(case when n > 2 then 1 else 0 end),
                            0)::bigint as dropped_buckets,
                   coalesce(sum(case when n > 2
                                     then (n * (n - 1)) // 2
                                     else 0 end),
                            0)::bigint as dropped_candidates
            from sizes
        """,
        "ngram_guard": f"""
            with sh as ({_SHINGLES}),
            sizes as (
                select shingle, count(*) as n from sh group by shingle
            )
            select count(*)::bigint as total_shingles,
                   coalesce(sum(case when n > 3 then 1 else 0 end),
                            0)::bigint as dropped_shingles,
                   coalesce(sum(case when n > 3 then n else 0 end),
                            0)::bigint as dropped_postings
            from sizes
        """,
        "ngram_jaccard": f"""
            with sh as ({_SHINGLES}),
            sizes as (select doc_id, count(*) as sz from sh group by doc_id),
            inter as (
                select a.doc_id as a, b.doc_id as b, count(*) as i
                from sh a join sh b on a.shingle = b.shingle
                where a.doc_id < b.doc_id
                group by a.doc_id, b.doc_id
            )
            select a::bigint as a, b::bigint as b,
                   round(i / (sa.sz + sb.sz - i), 6)::double as jaccard
            from inter
            join sizes sa on sa.doc_id = a
            join sizes sb on sb.doc_id = b
            where round(i / (sa.sz + sb.sz - i), 6) >= 0.3
        """,
        "simhash": r"""
            with toks as (
                select doc_id,
                       unnest(string_split_regex(trim(text), '\s+')) as tok
                from documents
            ), th as (
                select doc_id,
                       ('0x' || substring(md5(tok), 1, 15))::bigint as h
                from toks
            ), bits as (
                select doc_id, b.bit,
                       case when (h >> b.bit) % 2 = 1 then 1 else -1 end
                           as contrib
                from th, (select unnest(generate_series(0, 15)) as bit) b
            ), agg as (
                select doc_id, bit, sum(contrib) as s
                from bits group by doc_id, bit
            )
            select doc_id::bigint as doc_id,
                   sum(case when s > 0 then (1::bigint << bit)
                            else 0 end)::bigint as simhash
            from agg group by doc_id
        """,
        "doc_fingerprint": f"""
            with sh as ({_SHINGLES})
            select doc_id::bigint as doc_id, {_mh(0)}::bigint as fingerprint
            from sh group by doc_id
        """,
        "ivf_topk": """
            with e as (
                select vec_id, embedding::double[] as v from embeddings
            ), probes as (
                select vec_id as probe_id, v as pv from e
                where vec_id >= 5 and vec_id < 10
            ), sims as (
                select probe_id, e.vec_id as cand_id,
                       round(
                         list_dot_product(pv, v) /
                         (sqrt(list_dot_product(pv, pv))
                          * sqrt(list_dot_product(v, v))), 6) as cosine
                from probes, e
                where e.vec_id != probe_id
            ), r as (
                select probe_id, cand_id, cosine, row_number() over (
                    partition by probe_id
                    order by cosine desc, cand_id asc) as rank
                from sims
            )
            select probe_id::bigint as probe_id, cand_id::bigint as cand_id,
                   rank::bigint as rank, cosine::double as cosine
            from r where rank <= 5
        """,
        "cosine_topk": """
            with e as (
                select vec_id, embedding::double[] as v from embeddings
            ), probes as (
                select vec_id as probe_id, v as pv from e where vec_id < 5
            ), sims as (
                select probe_id, e.vec_id as cand_id,
                       round(
                         list_dot_product(pv, v) /
                         (sqrt(list_dot_product(pv, pv))
                          * sqrt(list_dot_product(v, v))), 6) as cosine
                from probes, e
                where e.vec_id != probe_id
            ), r as (
                select probe_id, cand_id, cosine, row_number() over (
                    partition by probe_id
                    order by cosine desc, cand_id asc) as rank
                from sims
            )
            select probe_id::bigint as probe_id, cand_id::bigint as cand_id,
                   rank::bigint as rank, cosine::double as cosine
            from r where rank <= 5
        """,
        "embedding_lsh": """
            with b as (
                select vec_id,
                    (case when embedding[1] > embedding[2]
                          then 1 else 0 end) * 1
                  + (case when embedding[3] > embedding[4]
                          then 1 else 0 end) * 2
                  + (case when embedding[5] > embedding[6]
                          then 1 else 0 end) * 4
                  + (case when embedding[7] > embedding[8]
                          then 1 else 0 end) * 8 as bucket
                from embeddings
            )
            select bucket::bigint as bucket, count(*)::bigint as n_vectors
            from b group by bucket
        """,
        "pricing_summary": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4)::double as sum_qty,
                   round(sum(l_extendedprice), 4)::double as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)::double
                       as sum_disc_price,
                   count(*)::bigint as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
        """,
        "orders_by_segment": """
            select c_mktsegment, count(*)::bigint as n_orders,
                   round(sum(o_totalprice), 2)::double as revenue
            from orders join customer on o_custkey = c_custkey
            group by c_mktsegment
        """,
        "events_hourly": """
            select date_trunc('hour', ts) as hour, event_type,
                   count(*)::bigint as n_events,
                   round(sum(value), 4)::double as sum_value
            from events group by 1, 2
        """,
        "top_events_per_user": """
            with r as (
                select user_id, event_id, value, row_number() over (
                    partition by user_id order by value desc, event_id asc
                ) as rank
                from events
            )
            select user_id::bigint as user_id, event_id::bigint as event_id,
                   rank::bigint as rank, round(value, 6)::double as value
            from r where rank <= 3
        """,
        "replace_classify": """
            select case when event_type in ('click', 'view')
                        then 'interaction' else event_type end
                       as event_class,
                   count(*)::bigint as n
            from events group by 1
        """,
    }
