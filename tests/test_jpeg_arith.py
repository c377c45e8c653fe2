"""Arithmetic-coded and hierarchical JPEG are outside the supported
decoder modes: decode_jpeg rejects their frame headers with the same
"unsupported JPEG mode" error instead of misreading the entropy data."""

from __future__ import annotations

import numpy as np
import pytest

from rosreestr_xml_to_gis_converter_spark.functions.jpeg import (
    decode_jpeg,
    encode_jpeg,
)


def photo(rng, h, w):
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            128 + 75 * np.sin(x / 13.0) + 35 * np.cos(y / 7.0),
            128 + 55 * np.cos((x + 2 * y) / 11.0),
            128 + 60 * np.sin((x - y) / 17.0),
        ],
        axis=-1,
    )
    return np.clip(img + rng.normal(0, 6, img.shape), 0, 255).astype(np.uint8)


def test_hierarchical_still_rejected():
    rng = np.random.default_rng(5)
    data = bytearray(encode_jpeg(photo(rng, 16, 16), 90))
    sof = data.index(b"\xff\xc0")
    data[sof + 1] = 0xC5  # differential sequential (hierarchical)
    with pytest.raises(ValueError, match="unsupported JPEG mode"):
        decode_jpeg(bytes(data))
    data[sof + 1] = 0xC9  # arithmetic-coded sequential
    with pytest.raises(ValueError, match="unsupported JPEG mode"):
        decode_jpeg(bytes(data))
