"""Pure-python image codecs + quality metrics.

No imaging library is required.  Two formats are supported, both real
bitstreams that any mainstream decoder reads:

* PNG — lossless RGB8 (zlib-deflated scanlines; the decoder handles
  filter types 0-4 and RGB/RGBA input).  Round-trip is exact, the
  lossless branch of the BASELINE.json invariant ("decoded-pixel
  allclose; exact for lossless").
* JPEG — the baseline/progressive Huffman DCT codec in
  :mod:`functions.jpeg`.  Its q90 round-trip clears the 40 dB PSNR gate
  of the lossy branch.

``decode_image`` / ``encode_image`` dispatch on ``fmt`` and honour the
backend selected in :mod:`functions.codec_backend`.  All functions
operate on ``numpy uint8 (h, w, 3)`` arrays and are called from
Arrow-batched UDFs only.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """RGB8 -> PNG bytes (color type 2, bit depth 8, filter 0 rows)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("encode_png expects (h, w, 3) RGB")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 (None) per scanline
    raw[:, 1:] = arr.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, w: int, bpp: int) -> np.ndarray:
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    for row in range(h):
        ftype = int(raw[row, 0])
        cur = raw[row, 1:].astype(np.int32)
        prev = out[row - 1].astype(np.int32) if row > 0 else np.zeros(stride, np.int32)
        if ftype == 0:
            out[row] = cur.astype(np.uint8)
        elif ftype == 2:  # Up
            out[row] = ((cur + prev) & 0xFF).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a left-scan
            line = np.zeros(stride, np.int32)
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                if ftype == 1:
                    line[i] = (cur[i] + a) & 0xFF
                elif ftype == 3:
                    line[i] = (cur[i] + ((a + b) >> 1)) & 0xFF
                else:
                    cval = prev[i - bpp] if i >= bpp else 0
                    p = a + b - cval
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cval)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cval)
                    line[i] = (cur[i] + pred) & 0xFF
            out[row] = line.astype(np.uint8)
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> RGB8 array.  Supports non-interlaced 8-bit RGB/RGBA."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    color_type = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or color_type not in (2, 6) or interlace != 0:
                raise ValueError("only 8-bit non-interlaced RGB/RGBA supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    bpp = 3 if color_type == 2 else 4
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * bpp)
    px = _unfilter(raw, h, w, bpp).reshape(h, w, bpp)
    return np.ascontiguousarray(px[:, :, :3])


def _decode_image_pure(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return decode_png(data)
    if fmt == "jpeg":
        from rosreestr_xml_to_gis_converter_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(data)
    raise NotImplementedError(f"unsupported image format: {fmt!r}")


def _encode_image_pure(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(arr)
    if fmt == "jpeg":
        from rosreestr_xml_to_gis_converter_spark.functions.jpeg import encode_jpeg

        return encode_jpeg(arr)
    raise NotImplementedError(f"unsupported image format: {fmt!r}")


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """The one imaging seam: every operator decodes through this exact
    signature, so swapping the codec (pure python <-> Pillow/libjpeg) is
    a backend selection with no plan/schema/oracle change — see
    :mod:`functions.codec_backend`."""
    from rosreestr_xml_to_gis_converter_spark.functions import codec_backend

    name = codec_backend.active_backend()
    if name != "pure":
        return codec_backend.BACKENDS[name][0](data, fmt)
    return _decode_image_pure(data, fmt)


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    from rosreestr_xml_to_gis_converter_spark.functions import codec_backend

    name = codec_backend.active_backend()
    if name != "pure":
        return codec_backend.BACKENDS[name][1](arr, fmt)
    return _encode_image_pure(arr, fmt)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)
