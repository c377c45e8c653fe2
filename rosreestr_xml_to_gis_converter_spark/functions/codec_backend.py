"""Optional system image-codec backend behind ``decode_image``'s exact
interface.

Every imaging operator calls ``decode_image(data: bytes, fmt: str) ->
uint8 (h, w, 3)`` / ``encode_image(arr, fmt) -> bytes`` and nothing else,
so the in-repo pure-python codecs can be swapped for a system codec
(libjpeg-turbo via Pillow) with no plan, schema or oracle change:

* ``BACKENDS`` maps a backend name to a ``(decode_fn, encode_fn)`` pair
  sharing that exact signature.
* ``pure`` — the in-repo codecs (always present; the default).
* ``system`` — Pillow/libjpeg, registered only when ``PIL`` imports.
* ``mirror`` — the pure codecs routed through the backend seam, so the
  dispatch path itself is testable without Pillow: a gate query run
  under ``SPARK_GRAFT_IMAGE_BACKEND=mirror`` must hash-equal the default
  run.

Selection: the ``SPARK_GRAFT_IMAGE_BACKEND`` env var, read on every
``decode_image``/``encode_image`` call in :mod:`functions.imaging`.
Local-mode Python workers inherit the driver's environment, so one export
swaps the codec in every process.
"""

from __future__ import annotations

import io
import os

import numpy as np

try:  # Pillow is optional
    from PIL import Image as _PILImage

    HAVE_SYSTEM_CODEC = True
except ImportError:  # pragma: no cover - exercised via the skip branch
    _PILImage = None
    HAVE_SYSTEM_CODEC = False


def _decode_system(data: bytes, fmt: str) -> np.ndarray:
    img = _PILImage.open(io.BytesIO(data))
    return np.asarray(img.convert("RGB"), dtype=np.uint8)


def _encode_system(arr: np.ndarray, fmt: str) -> bytes:
    buf = io.BytesIO()
    pil_fmt = {"png": "PNG", "jpeg": "JPEG"}[fmt]
    kwargs = {"quality": 90} if fmt == "jpeg" else {}
    _PILImage.fromarray(np.ascontiguousarray(arr, dtype=np.uint8)).save(
        buf, format=pil_fmt, **kwargs
    )
    return buf.getvalue()


def _pure_pair():
    # late imports: imaging.py imports this module back for dispatch
    from rosreestr_xml_to_gis_converter_spark.functions.imaging import (
        _decode_image_pure,
        _encode_image_pure,
    )

    return _decode_image_pure, _encode_image_pure


def _decode_mirror(data: bytes, fmt: str) -> np.ndarray:
    return _pure_pair()[0](data, fmt)


def _encode_mirror(arr: np.ndarray, fmt: str) -> bytes:
    return _pure_pair()[1](arr, fmt)


BACKENDS: dict[str, tuple] = {"mirror": (_decode_mirror, _encode_mirror)}
if HAVE_SYSTEM_CODEC:
    BACKENDS["system"] = (_decode_system, _encode_system)


def active_backend() -> str:
    """Backend name for this process: env var, defaulting to 'pure'.
    Unknown or unavailable names fail fast rather than silently falling
    back — a cluster misconfigured to 'system' without Pillow must not
    quietly run the slow pure codec."""
    name = os.environ.get("SPARK_GRAFT_IMAGE_BACKEND", "pure")
    if name != "pure" and name not in BACKENDS:
        raise RuntimeError(
            f"image backend {name!r} unavailable (have: pure"
            + "".join(f", {b}" for b in BACKENDS)
            + ")"
        )
    return name
