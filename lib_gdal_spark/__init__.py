"""lib_gdal_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Reimplements the query / data-processing semantics of the reference GDAL 2.4
library (``/root/reference``) as idiomatic Spark DataFrame operators:

- deterministic cell/tile keys (web-mercator XYZ grid + a quadtree cell index
  with H3-style k-ring neighborhoods), as Catalyst column expressions with a
  vectorized NumPy reference,
- point-in-polygon joins (driver-side cell cover -> broadcast cell equi-join
  -> envelope pre-test -> exact even-odd ray cast, all in Catalyst),
- kNN via k-ring expansion joins (ring explode, exactness guard and ranking
  all Catalyst expressions),
- raster tiles as table rows with warp/resample/pyramid kernels that follow
  GDAL's exact pixel-center (+0.5) and rounding conventions,
- the GDAL image checksum as the golden-output oracle,
- OGR SQL dialect semantics (two-valued NULL logic, case-insensitive LIKE,
  first-match-only LEFT JOIN, whole-table aggregates) as DataFrame helpers.

Everything is a DataFrame. The flagship pages -> cells -> PIP -> tiles path
(HTML extraction and enrichment, cell keys, the PIP test) and the kNN joins
run as native Catalyst expressions with no Python worker; raster pixel math and the other
geometry kernels run in vectorized pandas/Arrow UDFs (no per-row Python).
Catalyst does the relational planning.
"""

__version__ = "0.1.0"

from lib_gdal_spark.session import get_spark, local_df  # noqa: F401
