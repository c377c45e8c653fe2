"""Multimodal operator tests: decode/validate/features/resize/frame-sample
pipelines over Spark with the input_hint invariants."""

from __future__ import annotations

import numpy as np
import pandas as pd

from rosreestr_xml_to_gis_converter_spark.functions.imaging import decode_png
from rosreestr_xml_to_gis_converter_spark.operators.imaging_ops import (
    image_features,
    resize_images,
    validate_images,
)
from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA
from rosreestr_xml_to_gis_converter_spark.synth import gen_images_pdf


def _images(spark, seed=11, n=24):
    return spark.createDataFrame(gen_images_pdf(seed, n), schema=IMAGES_SCHEMA)


def test_validate_images_invariants(spark):
    out = validate_images(_images(spark)).toPandas()
    assert out["ok"].all()
    assert (out["psnr"] >= 40.0).all()  # inf for png
    # caption byte-equality through the pipeline (join back on image_id)
    src = gen_images_pdf(11, 24)
    merged = out.merge(src[["image_id", "caption"]], on="image_id")
    assert (merged["caption_len"] == merged["caption"].str.len()).all()
    assert (merged["width"] == src.set_index("image_id").loc[merged["image_id"], "w"].values).all()


def test_validate_images_unsupported_jpeg_is_ok_false_row(spark):
    """An image the codec rejects (a baseline stream relabeled SOF9,
    arithmetic-coded) comes back as an ok=false row with null dims and
    its caption length kept; the job itself does not fail."""
    from rosreestr_xml_to_gis_converter_spark.functions.jpeg import encode_jpeg

    data = bytearray(encode_jpeg(np.full((16, 16, 3), 99, np.uint8)))
    data[data.index(b"\xff\xc0") + 1] = 0xC9
    imgs = spark.createDataFrame(
        pd.DataFrame({
            "image_id": ["sof9"], "bytes": [bytes(data)], "w": [16], "h": [16],
            "fmt": ["jpeg"], "caption": ["arithmetic"], "phash": [0],
        }),
        schema=IMAGES_SCHEMA,
    )
    rows = validate_images(imgs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.image_id == "sof9" and r.ok is False
    assert r.width is None and r.height is None
    assert r.caption_len == len("arithmetic")


def test_image_features_deterministic_and_sane(spark):
    a = image_features(_images(spark)).toPandas().sort_values("image_id").reset_index(drop=True)
    b = image_features(_images(spark)).toPandas().sort_values("image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert a["mean_r"].between(0, 255).all()
    assert (a["ahash"] >= 0).all()
    assert a["ahash"].nunique() > 1


def test_resize_images_shape_and_content(spark):
    out = resize_images(_images(spark, n=9), 16, 16).toPandas()
    assert (out["w"] == 16).all() and (out["h"] == 16).all() and (out["fmt"] == "png").all()
    for _, r in out.iterrows():
        arr = decode_png(r["bytes"])
        assert arr.shape == (16, 16, 3)
    # captions carried through byte-identically
    src = gen_images_pdf(11, 9)
    assert set(out["caption"]) == set(src["caption"])


def test_mjpeg_container_roundtrip_and_seek(spark):
    """Real MJPEG video (concatenated baseline JPEGs): frame spans found
    by marker walk, frame sampling decodes ONLY the kept frames, PNG
    re-encode through the Spark pipeline preserves content."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.functions.imaging import decode_png
    from rosreestr_xml_to_gis_converter_spark.operators.imaging_ops import (
        decode_mjpeg,
        encode_mjpeg,
        mjpeg_frame_spans,
        sample_frames,
    )

    frames = np.stack([np.full((16, 16, 3), 20 * i + 7, np.uint8) for i in range(9)])
    data = encode_mjpeg(frames, 90)
    assert len(mjpeg_frame_spans(data)) == 9
    np.testing.assert_array_equal(decode_mjpeg(data), frames)  # flat = exact
    sel = decode_mjpeg(data, [0, 4, 8])
    np.testing.assert_array_equal(sel, frames[[0, 4, 8]])

    videos = spark.createDataFrame([("v1", bytearray(data))], "video_id string, bytes binary")
    out = sample_frames(videos, every_k=4).collect()
    assert [(r.frame_idx, r.w, r.h) for r in sorted(out, key=lambda r: r.frame_idx)] == [
        (0, 16, 16), (4, 16, 16), (8, 16, 16)
    ]
    for r in out:
        np.testing.assert_array_equal(decode_png(bytes(r.bytes)), frames[r.frame_idx])


def test_mjpeg_fill_bytes_between_segments():
    """ADVICE r2 / T.81 B.1.1.2: optional 0xFF fill bytes may precede any
    marker; the frame-span scanner must skip them instead of reading a
    bogus segment length."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.operators.imaging_ops import (
        decode_mjpeg,
        encode_mjpeg,
        mjpeg_frame_spans,
    )

    frames = np.stack([np.full((16, 16, 3), 40 * i + 7, np.uint8) for i in range(3)])
    data = encode_mjpeg(frames, 90)
    # inject a fill byte after each frame's SOI marker (before the next
    # segment marker) — still a valid stream per T.81
    spans = mjpeg_frame_spans(data)
    padded = b"".join(
        data[s : s + 2] + b"\xff" + data[s + 2 : e] for s, e in spans
    )
    got_spans = mjpeg_frame_spans(padded)
    assert len(got_spans) == 3
    np.testing.assert_array_equal(decode_mjpeg(padded), frames)
