"""D8/D4 topology constants — the raster's implicit graph schema.

Semantics mirror the reference's neighbourhood numbering
(``include/richdem/common/constants.hpp:5-10,44-73``)::

    234
    105
    876

Facet n in 1..8; 0 means NO_FLOW.  All tables are NumPy arrays so tile
kernels can vectorize over them.
"""

from __future__ import annotations

import math

import numpy as np

SQRT2 = math.sqrt(2.0)

# x/y offsets of the 9 D8 slots (slot 0 = the centre cell).
# reference: include/richdem/common/constants.hpp:44-45
D8X = np.array([0, -1, -1, 0, 1, 1, 1, 0, -1], dtype=np.int64)
D8Y = np.array([0, 0, -1, -1, -1, 0, 1, 1, 1], dtype=np.int64)

# distance from centre to each neighbour (constants.hpp:70)
DR = np.array([0, 1, SQRT2, 1, SQRT2, 1, SQRT2, 1, SQRT2], dtype=np.float64)

# True on diagonal slots (constants.hpp:47)
N8_DIAG = np.array(
    [False, False, True, False, True, False, True, False, True], dtype=bool
)

# direction from a neighbour back to the centre (constants.hpp:65)
D8_INVERSE = np.array([0, 5, 6, 7, 8, 1, 2, 3, 4], dtype=np.int64)

# D4 subsets (constants.hpp:53-60): D4 uses slots W,N,E,S of its own 1..4
# numbering; we keep the separate tables for D4-topology algorithms.
D4X = np.array([0, -1, 0, 1, 0], dtype=np.int64)
D4Y = np.array([0, 0, -1, 0, 1], dtype=np.int64)
D4_INVERSE = np.array([0, 3, 4, 1, 2], dtype=np.int64)

# RichDEM D8 -> ArcGIS bit codes (constants.hpp:72-73)
D8_ARCGIS = np.array([0, 16, 32, 64, 128, 1, 2, 4, 8], dtype=np.uint8)
# inverse map ArcGIS bit code -> RichDEM facet (misc/conversion.hpp:11-35)
ARCGIS_TO_D8 = {0: 0, 16: 1, 32: 2, 64: 3, 128: 4, 1: 5, 2: 6, 4: 7, 8: 8}

NO_FLOW = 0  # constants.hpp:80
FLOWDIR_NO_DATA = 255  # constants.hpp:76

D8_WEST, D8_NORTH, D8_EAST, D8_SOUTH = 1, 3, 5, 7

# Array3D proportions slot-0 flags (constants.hpp:82-85)
NO_FLOW_GEN = -1.0
HAS_FLOW_GEN = 0.0
NO_DATA_GEN = -2.0

# global-DEM-edge bitmask (constants.hpp:92-95)
GRID_LEFT = 1
GRID_TOP = 2
GRID_RIGHT = 4
GRID_BOTTOM = 8
GRID_ALL = GRID_LEFT | GRID_TOP | GRID_RIGHT | GRID_BOTTOM

TOPO_D8 = "D8"
TOPO_D4 = "D4"
