"""rasterframes_spark — a PySpark-native raster analytics engine.

A brand-new engine with the query and data-processing capabilities of
locationtech/rasterframes (reference: /root/reference), built directly on
Spark DataFrame/SQL primitives:

- Tiles are plain struct columns ``{cell_type, cols, rows, cells:binary}``
  (byte-compatible with the reference's TileUDT layout,
  ``core/src/main/scala/org/apache/spark/sql/rf/TileUDT.scala:49-57``,
  minus the UDT registration — no JVM code needed).
- Every cell-wise kernel is an Arrow-vectorized pandas UDF over
  ``numpy.ma`` masked arrays (NoData == mask).
- Aggregates are per-tile partial structs combined with Spark built-ins
  (map-side combine preserved, no Python state in the shuffle), or
  ``applyInPandas`` for tile-valued aggregates.
- Geometry is WKB in ``BinaryType`` columns with a pure-python GEOS-lite;
  CRS is a string column with pure-math reprojection.

See SURVEY.md for the full structural analysis this build follows.
"""

from rasterframes_spark import _pyworker  # noqa: F401 -- first: zip cache fix (see module)
from rasterframes_spark.tile import (  # noqa: F401
    CellType,
    CRS,
    Extent,
    Tile,
    TILE_SCHEMA,
    EXTENT_SCHEMA,
    PROJ_RASTER_SCHEMA,
)
from rasterframes_spark.session import create_rf_spark_session  # noqa: F401
from rasterframes_spark.functions import *  # noqa: F401,F403
from rasterframes_spark.geom import *  # noqa: F401,F403
from rasterframes_spark.operators import *  # noqa: F401,F403
from rasterframes_spark import sources  # noqa: F401
from rasterframes_spark import pipeline  # noqa: F401
from rasterframes_spark import streaming  # noqa: F401

__version__ = "0.1.0"
