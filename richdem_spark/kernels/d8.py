"""D8 flow-direction and flow-accumulation kernels (vectorized NumPy).

Semantics re-derived from the reference:

* ``d8_flow_directions`` — steepest-descent single flow direction with the
  reference's forced-outward edge rule and its even/odd tie-break quirk
  (``include/richdem/flowmet/d8_flowdirs.hpp:32-123``).
* ``d8_flow_accum`` — Kahn's-algorithm dependency propagation
  (``include/richdem/methods/d8_methods.hpp:47-139``), vectorized as
  level-synchronous frontier sweeps (no per-cell Python loop).
* ``exit_cell_of`` — per-cell in-tile flow-path exit (the reference's
  ``FollowPath``, ``programs/parallel_d8_accum/main.cpp:270-334``) via
  pointer doubling.

Grids are ``[y, x]`` with row 0 = top.  Direction codes: 0 = NO_FLOW,
1..8 per the 234/105/876 numbering, 255 = NoData.
"""

from __future__ import annotations

import numpy as np

from ..constants import ARCGIS_TO_D8, D8X, D8Y, FLOWDIR_NO_DATA, NO_FLOW


def _neighbor_flat(h: int, w: int, dirs: np.ndarray):
    """Flat downstream index per cell, and a validity mask (in-grid target).

    dirs: int array [h,w] with values 0..8 or 255.
    """
    y, x = np.divmod(np.arange(h * w, dtype=np.int64), w)
    d = dirs.ravel().astype(np.int64)
    flowing = (d >= 1) & (d <= 8)
    dsafe = np.where(flowing, d, 0)
    nx = x + D8X[dsafe]
    ny = y + D8Y[dsafe]
    in_grid = (nx >= 0) & (nx < w) & (ny >= 0) & (ny < h)
    ok = flowing & in_grid
    ds = np.where(ok, ny * w + nx, -1)
    return ds, ok


def d8_flow_directions(
    elev: np.ndarray, nodata: float | None = None
) -> np.ndarray:
    """Steepest-descent D8 directions for a whole grid.

    Mirrors ``d8_FlowDir`` (d8_flowdirs.hpp:32-74): edge cells always point
    off-grid; interior cells take the lowest neighbour, with the reference's
    tie rule — on equal elevation, switch only from an even (diagonal)
    facet to an odd (cardinal) facet.  NoData is assumed to be a very
    negative number so flow drains toward NoData regions
    (d8_flowdirs.hpp:59-62).
    """
    h, w = elev.shape
    dirs = np.zeros((h, w), dtype=np.uint8)
    e = elev.astype(np.float64, copy=False)

    if h >= 3 and w >= 3:
        core = e[1:-1, 1:-1]
        best = core.copy()
        fd = np.zeros(core.shape, dtype=np.int64)
        for n in range(1, 9):
            ne = e[1 + D8Y[n] : h - 1 + D8Y[n], 1 + D8X[n] : w - 1 + D8X[n]]
            lower = ne < best
            # tie-break quirk (d8_flowdirs.hpp:66-67): equal elevation steals
            # the direction only when current facet is even and n is odd
            tie = (ne == best) & (fd > 0) & (fd % 2 == 0) & (n % 2 == 1)
            take = lower | tie
            best = np.where(take, ne, best)
            fd = np.where(take, n, fd)
        dirs[1:-1, 1:-1] = fd.astype(np.uint8)

    # forced-outward edge rule (d8_flowdirs.hpp:38-55)
    dirs[0, :] = 3
    dirs[-1, :] = 7
    dirs[:, 0] = 1
    dirs[:, -1] = 5
    dirs[0, 0] = 2
    dirs[-1, 0] = 8
    dirs[0, -1] = 4
    dirs[-1, -1] = 6

    if nodata is not None:
        dirs[elev == nodata] = FLOWDIR_NO_DATA
    return dirs


def d4_flow_directions(
    elev: np.ndarray, nodata: float | None = None
) -> np.ndarray:
    """Steepest-descent D4 directions (cardinals W/N/E/S = 1/3/5/7
    only) — FM_OCallaghan's D4 dispatch (OCallaghan1984.hpp Topology::D4;
    constants.hpp:53-67 d4 tables).  Same forced-outward edge rule and
    NoData convention as the D8 kernel; used as the flat-candidate
    substrate for the D4 epsilon fill."""
    h, w = elev.shape
    dirs = np.zeros((h, w), dtype=np.uint8)
    e = elev.astype(np.float64, copy=False)

    if h >= 3 and w >= 3:
        core = e[1:-1, 1:-1]
        best = core.copy()
        fd = np.zeros(core.shape, dtype=np.int64)
        for n in (1, 3, 5, 7):
            ne = e[1 + D8Y[n]: h - 1 + D8Y[n], 1 + D8X[n]: w - 1 + D8X[n]]
            lower = ne < best
            best = np.where(lower, ne, best)
            fd = np.where(lower, n, fd)
        dirs[1:-1, 1:-1] = fd.astype(np.uint8)

    dirs[0, :] = 3
    dirs[-1, :] = 7
    dirs[:, 0] = 1
    dirs[:, -1] = 5

    if nodata is not None:
        dirs[elev == nodata] = FLOWDIR_NO_DATA
    return dirs


def d8_flow_accum(
    dirs: np.ndarray, weights: np.ndarray | None = None
) -> np.ndarray:
    """Flow accumulation from D8 directions (d8_methods.hpp:47-139).

    Each data cell contributes ``weights`` (default 1) and passes its total
    to its downstream neighbour; NoData cells receive -1 and absorb
    (discard) inflow.  Implemented as vectorized level-synchronous Kahn
    propagation: O(cells) total work, O(longest flow path) sweeps.

    When ``weights`` is given the result is accumulation of those point
    sources (this is also the round-2 ``FollowPathAdd`` of the tiled
    algorithm, ``programs/parallel_d8_accum/main.cpp:344-370``).
    """
    h, w = dirs.shape
    n = h * w
    valid = (dirs.ravel() != FLOWDIR_NO_DATA)
    ds, ok = _neighbor_flat(h, w, dirs)
    # flow into NoData disappears, but the dependency bookkeeping still must
    # not treat the NoData cell as a real receiver (d8_methods.hpp:118-126)
    ok = ok & valid & valid[np.where(ds >= 0, ds, 0)]
    ds = np.where(ok, ds, -1)

    if weights is None:
        accum = valid.astype(np.float64)
    else:
        accum = np.where(valid, weights.ravel().astype(np.float64), 0.0)

    deps = np.bincount(ds[ok], minlength=n)
    frontier = np.flatnonzero(valid & (deps == 0))
    while frontier.size:
        f = frontier[ok[frontier]]
        t = ds[f]
        np.add.at(accum, t, accum[f])
        np.subtract.at(deps, t, 1)
        # a target may receive from several frontier cells; it joins the
        # next frontier exactly once, when its count hits zero
        frontier = np.unique(t[deps[t] == 0])
    out = accum.reshape(h, w)
    out[~valid.reshape(h, w)] = -1.0
    return out


def d8_loop_residual(dirs: np.ndarray) -> int:
    """Number of data cells on a flow cycle that closes entirely within
    this array view; 0 iff the in-tile flow graph is acyclic.  Kahn trim
    from the zero-indegree frontier — with out-degree <= 1 the cells it
    never reaches are exactly the cycle cells (loop-check half of
    apps/rd_loop_check.cpp, which instead bounds every FollowPath at
    ``width`` steps)."""
    h, w = dirs.shape
    n = h * w
    valid = dirs.ravel() != FLOWDIR_NO_DATA
    ds, ok = _neighbor_flat(h, w, dirs)
    ok = ok & valid & valid[np.where(ds >= 0, ds, 0)]
    ds = np.where(ok, ds, -1)
    deps = np.bincount(ds[ok], minlength=n)
    frontier = np.flatnonzero(valid & (deps == 0))
    done = frontier.size
    while frontier.size:
        f = frontier[ok[frontier]]
        t = ds[f]
        np.subtract.at(deps, t, 1)
        frontier = np.unique(t[deps[t] == 0])
        done += frontier.size
    return int(valid.sum()) - done


def exit_cell_of(dirs: np.ndarray) -> np.ndarray:
    """For every cell, the flat index of the last in-tile cell on its flow
    path (where the path terminates or steps off the tile); -1 stays -1 for
    NoData.  Pointer-doubling: O(n log n) fully vectorized.

    Equivalent of the reference's per-perimeter-cell ``FollowPath``
    (programs/parallel_d8_accum/main.cpp:270-334) computed for all cells.
    """
    h, w = dirs.shape
    n = h * w
    valid = dirs.ravel() != FLOWDIR_NO_DATA
    ds, ok = _neighbor_flat(h, w, dirs)
    ok = ok & valid & valid[np.where(ds >= 0, ds, 0)]
    idx = np.arange(n, dtype=np.int64)
    # ptr[i] = next hop, or self where the in-tile path ends
    ptr = np.where(ok, ds, idx)
    # D8 dirs from a filled DEM are acyclic; loop guard mirrors the
    # reference's assertion (main.cpp:284-333)
    for _ in range(int(np.ceil(np.log2(max(n, 2)))) + 1):
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            break
        ptr = nxt
    ptr[~valid] = -1
    return ptr


def arcgis_to_d8(dirs: np.ndarray,
                 nodata: float | None = None) -> np.ndarray:
    """ArcGIS bit-coded directions -> RichDEM facets
    (misc/conversion.hpp:11-35); NoData cells become FLOWDIR_NO_DATA."""
    lut = np.zeros(256, dtype=np.uint8)
    for k, v in ARCGIS_TO_D8.items():
        lut[k] = v
    mask = np.ones(dirs.shape, bool) if nodata is None else (dirs != nodata)
    out = lut[np.where(mask, dirs, 0).astype(np.int64)]
    out[~mask] = FLOWDIR_NO_DATA
    return out


# TauDEM 0-8 -> RichDEM facets (apps/rd_taudem_d8_to_richdem_d8.cpp:
# `taudem_to_richdem[9] = {0,5,4,3,2,1,8,7,6}`)
_TAUDEM_TO_D8 = np.array([0, 5, 4, 3, 2, 1, 8, 7, 6], dtype=np.uint8)


def taudem_to_d8(dirs: np.ndarray,
                 nodata: float | None = None) -> np.ndarray:
    """TauDEM D8 codes (1=E counter-clockwise) -> RichDEM facets; codes
    outside 0..8 raise, matching the reference app's error."""
    d = dirs.astype(np.int64)
    mask = np.ones(d.shape, bool) if nodata is None else (dirs != nodata)
    bad = mask & ((d < 0) | (d > 8))
    if bad.any():
        y, x = np.argwhere(bad)[0]
        raise ValueError(
            f"invalid TauDEM flowdir {dirs[y, x]!r} at ({x},{y})")
    out = _TAUDEM_TO_D8[np.where(mask, d, 0)]
    if nodata is not None:
        out = out.copy()
        out[~mask] = FLOWDIR_NO_DATA
    return out
