"""balrog_spark — a PySpark-native Bushfire Attack Level (BAL) spatial-join +
tiling engine.

Reimplements the semantics of the reference BAL toolkit (AS 3959 (2009)
Method 1: vegetation/slope/aspect classification, directional neighbour scan,
BAL severity lookup — see reference calculate_bal.py / utilities/sa_tools.py)
as idiomatic Spark DataFrame programs over tiled rasters and vector tables
embedded in an interleaved-document corpus.

Design notes (100 TB scale):
- All raster math runs in Arrow-vectorized pandas UDFs over fixed-size tiles;
  cross-tile dependencies (gradient halo, directional scan halo) are satisfied
  by an 8-neighbour tile self-join, never by global arrays.
- All spatial joins (point-in-polygon, distance-within, kNN) are expressed as
  integer grid-cell equi-joins (broadcastable build sides, AQE-friendly)
  followed by exact numpy refinement inside UDFs.
- No per-row Python anywhere on the hot path.
- Importing the package keys zipimport's directory re-read on the archive's
  stat (``zipcache``): PySpark invalidates import caches in every Python
  task, which on Python 3.11 re-reads pyspark.zip's directory, ~0.2 s a task.
"""

from . import zipcache

__version__ = "0.1.0"

zipcache.install()
