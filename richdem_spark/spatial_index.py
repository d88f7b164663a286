"""Hierarchical spatial cell index (H3/S2-style quadkey on a Z-order
curve) — built from scratch for the engine's spatial joins per the
north_rule.  Pure integer arithmetic so the same cell ids are computable
in NumPy (tile kernels), Spark SQL expressions (JVM-side, codegen'd) and
plain SQL oracles.

Cell id layout (uint64): ``(level << 58) | morton`` where ``morton``
interleaves the bits of the x/y bin indices at ``2^level`` resolution per
axis over the WGS84 lon/lat rectangle.  Parent/child is a 2-bit shift —
the property raster tiling relies on.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 28


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between bits (Morton encode helper), uint64."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact_bits(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def lonlat_to_bins(lon, lat, level: int):
    """x/y bin indices at 2^level resolution; vectorized."""
    n = 1 << level
    x = np.clip(((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64),
                0, n - 1)
    y = np.clip(((90.0 - np.asarray(lat)) / 180.0 * n).astype(np.int64),
                0, n - 1)
    return x, y


def cell_id(lon, lat, level: int) -> np.ndarray:
    x, y = lonlat_to_bins(lon, lat, level)
    m = _spread_bits(x) | (_spread_bits(y) << np.uint64(1))
    return (np.uint64(level) << np.uint64(58)) | m


def cell_to_xy(cid, level: int):
    m = np.asarray(cid).astype(np.uint64) & ((np.uint64(1) << np.uint64(58))
                                             - np.uint64(1))
    x = _compact_bits(m)
    y = _compact_bits(m >> np.uint64(1))
    return x.astype(np.int64), y.astype(np.int64)


def cell_parent(cid, steps: int = 1) -> np.ndarray:
    c = np.asarray(cid).astype(np.uint64)
    level = (c >> np.uint64(58)).astype(np.int64)
    m = c & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))
    m = m >> np.uint64(2 * steps)
    return ((level - steps).astype(np.uint64) << np.uint64(58)) | m


def cell_neighbors(cid: int, level: int, ring: int = 1) -> list[int]:
    """All cells within `ring` Chebyshev distance (the kNN expansion
    primitive).  Scalar (driver/UDF-side use)."""
    x, y = cell_to_xy(np.array([cid], dtype=np.uint64), level)
    x, y = int(x[0]), int(y[0])
    n = 1 << level
    out = []
    for dy in range(-ring, ring + 1):
        for dx in range(-ring, ring + 1):
            nx, ny = x + dx, y + dy
            if 0 <= nx < n and 0 <= ny < n:
                m = int(_spread_bits(np.array([nx], np.uint64))[0]) | (
                    int(_spread_bits(np.array([ny], np.uint64))[0]) << 1
                )
                out.append((level << 58) | m)
    return out
