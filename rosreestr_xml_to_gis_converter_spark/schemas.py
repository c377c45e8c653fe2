"""Canonical StructTypes for the engine's tables.

* ``IMAGES_SCHEMA`` is fixed by BASELINE.json:input_hint — nothing may be
  added to the stored table; derived values (geotag, cell) are computed
  columns, never stored on the input.
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
