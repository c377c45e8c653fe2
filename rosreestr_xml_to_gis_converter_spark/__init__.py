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

from rosreestr_xml_to_gis_converter_spark.session import get_spark

__all__ = ["get_spark"]
