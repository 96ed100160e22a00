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

# a worker imports the package, and so stops re-reading zips on every task,
# when it unpickles a kernel that references a module-level engine function
# (see zipcache)
zipcache.install()

__all__ = ["Affine", "Bounds", "RasterMeta", "RasterFrame", "Geometry"]
__version__ = "0.1.0"
