"""rastr_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the semantics of the reference library ``tonkintaylor/rastr``
(a single-node eager NumPy raster library) as lazy, distributed DataFrame stages:
tiled rasters, affine grid geometry, point-in-polygon / sample / kNN joins, zonal
statistics, stencil ops via halo-exchange joins, raster↔vector conversion, and an
interleaved text+media document pipeline with checkpointed lineage (BASELINE.json).

Everything is built on public Apache Spark APIs: pyspark.sql DataFrames, Catalyst
higher-order functions, and vectorized Arrow pandas UDFs. No per-row Python.
"""

from .meta import Affine, Bounds, RasterMeta
from .tiles import RasterFrame
from .geometry import Geometry
from . import operators  # attaches the fluent operator surface to RasterFrame
from . import zipcache

zipcache.install()  # Python workers import the package: no per-task zip re-reads

__all__ = ["Affine", "Bounds", "RasterMeta", "RasterFrame", "Geometry"]
__version__ = "0.1.0"
