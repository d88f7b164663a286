"""richdem_spark — a from-scratch PySpark-native terrain & hydrology
engine with the query/data-processing capabilities of r-barnes/richdem,
re-expressed as partition-parallel DataFrame transforms (tiles +
O(perimeter) halo/seam exchange; see SURVEY.md)."""

from . import pyworker
from .tiles import RasterMeta, TiledRaster, raster_from_array, read_raster, write_raster  # noqa: F401
from . import api  # noqa: F401

__version__ = "0.1.0"

pyworker.install_in_task()
