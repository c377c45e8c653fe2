"""Multimodal (image/video) column operators.

The payload is an opaque ``binary`` column with typed metadata
(input_hint: ``bytes, w, h, fmt``); all decode/feature/resize/sample work
happens in Arrow-batched ``mapInPandas`` stages.  Images are PNG or JPEG
and decode through ``functions.imaging.decode_image``; videos are raw
MJPEG (concatenated JPEG frames).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rosreestr_xml_to_gis_converter_spark.functions.imaging import (
    decode_image,
    encode_image,
    psnr,
)

VALIDATE_SCHEMA = (
    "image_id string, ok boolean, psnr double, width int, height int, caption_len int"
)


def validate_images(images: DataFrame) -> DataFrame:
    """Decode every image and check the input_hint invariants:
    dimensions match metadata; re-encode/decode round-trip PSNR >= 40 dB
    (infinite for lossless); caption survives byte-identically (checked
    via length here, byte equality in the tests)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    arr = decode_image(r.bytes, r.fmt)
                    rt = decode_image(encode_image(arr, r.fmt), r.fmt)
                    p = psnr(arr, rt)
                    ok = arr.shape == (r.h, r.w, 3) and p >= 40.0
                    rows.append(
                        (r.image_id, bool(ok), float(p), arr.shape[1], arr.shape[0], len(r.caption))
                    )
                except Exception:
                    rows.append((r.image_id, False, float("nan"), None, None, len(r.caption)))
            yield pd.DataFrame(
                rows, columns=["image_id", "ok", "psnr", "width", "height", "caption_len"]
            )

    return images.mapInPandas(batches, schema=VALIDATE_SCHEMA)


FEATURES_SCHEMA = "image_id string, mean_r double, mean_g double, mean_b double, ahash long"


def image_features(images: DataFrame) -> DataFrame:
    """Decode + feature-extract: per-channel means and an 8x8 average-hash
    (the classic perceptual aHash) — all numpy, Arrow-batched."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_image(r.bytes, r.fmt).astype(np.float64)
                means = arr.mean(axis=(0, 1))
                small = _box_resize(arr.mean(axis=2), 8, 8)
                bits = (small > small.mean()).ravel()
                ahash = int(sum(1 << i for i, b in enumerate(bits[:63]) if b))
                rows.append((r.image_id, means[0], means[1], means[2], ahash))
            yield pd.DataFrame(rows, columns=["image_id", "mean_r", "mean_g", "mean_b", "ahash"])

    return images.mapInPandas(batches, schema=FEATURES_SCHEMA)


def _box_resize(gray: np.ndarray, oh: int, ow: int) -> np.ndarray:
    """Box-average resize (pure numpy; no imaging library needed)."""
    h, w = gray.shape
    ys = (np.arange(oh + 1) * h // oh).astype(int)
    xs = (np.arange(ow + 1) * w // ow).astype(int)
    out = np.empty((oh, ow), dtype=np.float64)
    for i in range(oh):
        for j in range(ow):
            out[i, j] = gray[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    return out


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Resize every image (box average per channel) and re-encode PNG."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_image(r.bytes, r.fmt).astype(np.float64)
                small = np.stack(
                    [_box_resize(arr[:, :, c], out_h, out_w) for c in range(3)], axis=2
                )
                data = encode_image(np.clip(np.round(small), 0, 255).astype(np.uint8), "png")
                rows.append((r.image_id, data, out_w, out_h, "png", r.caption, r.phash))
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
            )

    from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA

    return images.mapInPandas(batches, schema=IMAGES_SCHEMA)


# --- video -------------------------------------------------------------------
#
# The container is raw MJPEG — a concatenated sequence of
# baseline JPEG frames (what ffmpeg reads/writes as `.mjpeg`), each frame
# produced by the real codec in functions/jpeg.py.  Frame boundaries are
# found by scanning SOI/EOI markers (EOI cannot appear unescaped inside
# entropy data), so frame-sampling SEEKS: unsampled frames are never
# entropy-decoded — the property that matters when sampling 1-of-N frames
# from 10^12 videos.

_SOI = b"\xff\xd8"


def encode_mjpeg(frames: np.ndarray, quality: int = 90) -> bytes:
    """(n, h, w, 3) uint8 -> raw MJPEG bytes (concatenated JPEG frames)."""
    from rosreestr_xml_to_gis_converter_spark.functions.jpeg import encode_jpeg

    return b"".join(encode_jpeg(f, quality) for f in frames)


def _jpeg_frame_end(data: bytes, start: int) -> int:
    """Walk one JPEG's marker structure from its SOI; return the byte
    after its EOI.  A true marker walk (not a raw EOI byte search): the
    two-byte sequence ff d9 can legitimately occur inside DQT/DHT
    payloads, so segment lengths must be honored."""
    p = start + 2
    n = len(data)
    while p < n - 1:
        if data[p] != 0xFF:
            raise ValueError(f"MJPEG: expected marker at byte {p}")
        # T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes —
        # skip them instead of misreading a fill byte as a segment marker
        while p < n - 1 and data[p + 1] == 0xFF:
            p += 1
        if p >= n - 1:
            break
        m = data[p + 1]
        if m == 0xD9:
            return p + 2
        if m in (0x01,) or 0xD0 <= m <= 0xD8:
            p += 2
            continue
        (seglen,) = struct.unpack(">H", data[p + 2 : p + 4])
        p += 2 + seglen
        if m == 0xDA:  # SOS: scan entropy data for the next real marker
            while p < n - 1:
                if data[p] != 0xFF:
                    p += 1
                elif data[p + 1] == 0x00 or 0xD0 <= data[p + 1] <= 0xD7:
                    p += 2  # stuffed byte / restart marker
                else:
                    break
    raise ValueError("MJPEG: no EOI found")


def mjpeg_frame_spans(data: bytes) -> list[tuple[int, int]]:
    """Frame (start, end) byte spans — marker scan only, no pixel work."""
    spans = []
    pos = 0
    while pos < len(data):
        if data[pos : pos + 2] != _SOI:
            raise ValueError(f"MJPEG: expected SOI at byte {pos}")
        end = _jpeg_frame_end(data, pos)
        spans.append((pos, end))
        pos = end
    return spans


def decode_mjpeg(data: bytes, indices: list[int] | None = None) -> np.ndarray:
    """Raw MJPEG -> (n, h, w, 3); ``indices`` decodes only those frames
    (others are skipped at the marker level)."""
    from rosreestr_xml_to_gis_converter_spark.functions.jpeg import decode_jpeg

    spans = mjpeg_frame_spans(data)
    take = range(len(spans)) if indices is None else indices
    return np.stack([decode_jpeg(data[spans[i][0] : spans[i][1]]) for i in take])


FRAME_SAMPLE_SCHEMA = "video_id string, frame_idx int, bytes binary, w int, h int"


def sample_frames(videos: DataFrame, every_k: int) -> DataFrame:
    """Frame-sample a raw-MJPEG video binary column: every k-th frame
    re-encoded as PNG.  ``videos``: (video_id string, bytes binary).

    Sampling is a marker-level seek: unsampled frames are never
    entropy-decoded (decode_mjpeg(indices=...)), so the cost is
    proportional to frames KEPT, not frames stored."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                data = bytes(r.bytes)
                idxs = list(range(0, len(mjpeg_frame_spans(data)), every_k))
                frames = decode_mjpeg(data, idxs)
                for idx, frame in zip(idxs, frames):
                    png = encode_image(frame, "png")
                    rows.append((r.video_id, idx, png, frame.shape[1], frame.shape[0]))
            yield pd.DataFrame(rows, columns=["video_id", "frame_idx", "bytes", "w", "h"])

    return videos.mapInPandas(batches, schema=FRAME_SAMPLE_SCHEMA)
