"""Canonical StructTypes for the engine's tables.

* ``IMAGES_SCHEMA`` is fixed by BASELINE.json:input_hint — nothing may be
  added to the stored table; derived values (geotag, cell) are computed
  columns, never stored on the input.
* ``PARCELS_SCHEMA`` mirrors the reference's unified 17-attribute row
  (XLSX header /root/reference/main.py:283-299 + shapefile fields
  /root/reference/main.py:325-342), typed per SURVEY.md section 1.2.
* ``CONTOURS_SCHEMA`` is the reference's geometry emission shape
  (/root/reference/real_estate.py:784-792): key -> ring list, ring =
  ordered vertex pairs, closing vertex repeated.
"""

from __future__ import annotations

from pyspark.sql import types as T

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# Geometry transit representation: packed rings (WKB-analog), see
# functions.geometry.pack_rings.  Nested list columns stay an API-edge
# convenience only (pyarrow 16 segfaults on null-bearing triple nesting).
GEOM_TYPE = T.BinaryType()

PARCELS_SCHEMA = T.StructType(
    [
        T.StructField("cad_number", T.StringType(), False),
        T.StructField("parent_cad_number", T.StringType(), True),
        T.StructField("num_of_cont", T.StringType(), True),
        T.StructField("area", T.DecimalType(20, 2), True),
        T.StructField("address", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("permitted_use_by_doc", T.StringType(), True),
        T.StructField("owner", T.StringType(), True),
        T.StructField("own_name_reg_numb_date", T.StringType(), True),
        T.StructField("encumbrances", T.StringType(), True),
        T.StructField("encumbrances_reg", T.StringType(), True),
        T.StructField("special_notes", T.StringType(), True),
        T.StructField("date_of_cadastral_reg", T.DateType(), True),
        T.StructField("extract_date", T.DateType(), True),
        T.StructField("estate_objects", T.StringType(), True),
        T.StructField("cadastral_cost", T.StringType(), True),
        T.StructField("obj_type", T.StringType(), True),
        T.StructField("entry_parcels", T.ArrayType(T.StringType()), True),
    ]
)

CONTOURS_SCHEMA = T.StructType(
    [
        T.StructField("geom_key", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("geom", GEOM_TYPE, True),
    ]
)
