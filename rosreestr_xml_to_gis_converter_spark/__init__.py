"""PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a port) generalizing the semantics of the
reference converter ``dm-korottsev/rosreestr-xml-to-gis-converter``
(/root/reference): an indexed polygon layer (cadastral parcels with
multi-ring contours and denormalized attributes) joined at web scale to a
table of geotagged image+caption pairs
``(image_id, bytes, w, h, fmt, caption, phash)`` via

  cell-encode  ->  cell equi-join  ->  exact point-in-polygon refine
                                   ->  kNN-to-nearest-parcel fallback
                                   ->  raster<->vector tiling

Everything relational is plain DataFrame/Catalyst; custom code is confined
to vectorized Arrow/pandas kernels (geometry assembly, polygon cover,
point-in-polygon, raster masks, image codecs) plus explicit layout /
salting / checkpoint logic.  See SURVEY.md for the full design.
"""

import sys
import zipimport

if "pyspark.worker" in sys.modules:
    # pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    # of every task, and on CPython 3.11 that makes each cached
    # ``zipimporter`` re-read its archive's central directory (pyspark.zip
    # once per imported sub-package, the spark-core jar twice): 0.1-0.25 s
    # per task.  The archives on a worker's path do not change while the
    # worker lives, and a pyFiles zip added later is a new path entry that
    # is still read once.  Every package kernel imports this package when it
    # is unpickled, so a reused worker pays the re-read on its first package
    # task only, whatever built the session.
    zipimport.zipimporter.invalidate_caches = lambda self: None

from rosreestr_xml_to_gis_converter_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
