"""Codec-substitution proof (round-4 VERDICT next-round #4): decode_image
is the one imaging seam — a backend swap changes no plan, schema, or
oracle.  The 'mirror' backend exercises the dispatch path without
Pillow; the 'system' (Pillow/libjpeg) tests activate when importable."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from rosreestr_xml_to_gis_converter_spark.functions import codec_backend
from rosreestr_xml_to_gis_converter_spark.functions.imaging import (
    decode_image,
    encode_image,
    psnr,
)
from rosreestr_xml_to_gis_converter_spark.synth import gen_image_array

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sample_payloads():
    rng = np.random.default_rng(5)
    arr = gen_image_array(rng, 48, 36)
    return arr, [(encode_image(arr, "png"), "png"), (encode_image(arr, "jpeg"), "jpeg")]


def test_mirror_backend_identical_and_unknown_rejected(monkeypatch):
    arr, payloads = _sample_payloads()
    pure = [decode_image(d, f) for d, f in payloads]
    monkeypatch.setenv("SPARK_GRAFT_IMAGE_BACKEND", "mirror")
    mirrored = [decode_image(d, f) for d, f in payloads]
    for a, b in zip(pure, mirrored):
        assert np.array_equal(a, b)
    # encode seam dispatches too
    mirrored_png = encode_image(arr, "png")
    monkeypatch.delenv("SPARK_GRAFT_IMAGE_BACKEND")
    assert mirrored_png == encode_image(arr, "png")
    monkeypatch.setenv("SPARK_GRAFT_IMAGE_BACKEND", "no-such-codec")
    with pytest.raises(RuntimeError, match="unavailable"):
        decode_image(payloads[0][0], "png")
    if not codec_backend.HAVE_SYSTEM_CODEC:
        # fail fast, never silently fall back to the slow pure codec
        monkeypatch.setenv("SPARK_GRAFT_IMAGE_BACKEND", "system")
        with pytest.raises(RuntimeError, match="unavailable"):
            decode_image(payloads[0][0], "png")


@pytest.mark.skipif(
    not codec_backend.HAVE_SYSTEM_CODEC, reason="Pillow not importable here"
)
def test_system_backend_equivalence(monkeypatch):
    """When Pillow IS present: lossless round-trips are pixel-exact in
    both directions and the lossy paths stay PSNR-bounded — the
    'one-function swap' is value-equivalent, not just API-equivalent."""
    arr, payloads = _sample_payloads()
    png_bytes, _ = payloads[0]
    jpg_bytes, _ = payloads[1]
    sys_decode, sys_encode = codec_backend.BACKENDS["system"]
    # pure-encoded PNG -> system decode: exact
    assert np.array_equal(sys_decode(png_bytes, "png"), arr)
    # system-encoded PNG -> pure decode: exact
    assert np.array_equal(decode_image(sys_encode(arr, "png"), "png"), arr)
    # the SAME jpeg bytes through both decoders: IDCT rounding only
    assert psnr(sys_decode(jpg_bytes, "jpeg"), decode_image(jpg_bytes, "jpeg")) >= 40.0
    # cross-codec lossy round-trips stay above the repo's quality gate
    assert psnr(sys_decode(jpg_bytes, "jpeg"), arr) >= 38.0
    assert psnr(decode_image(sys_encode(arr, "jpeg"), "jpeg"), arr) >= 38.0


_SUBPROC_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession
sys.path.insert(0, {repo!r})
from rosreestr_xml_to_gis_converter_spark.queries_engine import image_invariants
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
df = image_invariants(spark, {sf!r})
rows = sorted(tuple(r) for r in df.collect())
print("ROWS::" + json.dumps([list(map(str, r)) for r in rows]))
print("SCHEMA::" + df.schema.simpleString())
"""


def test_mirror_backend_spark_query_unchanged(spark, tmp_path):
    """End-to-end seam proof: the image-invariants gate query run in a
    FRESH process under SPARK_GRAFT_IMAGE_BACKEND=mirror (so the Python
    workers inherit it) yields byte-identical rows and schema to the
    default pure-backend run — the swap changes nothing the driver's
    oracle can see."""
    from rosreestr_xml_to_gis_converter_spark.queries_engine import image_invariants

    sf = "/root/testdata/sf0.001"
    base = image_invariants(spark, sf)
    want_rows = sorted(tuple(map(str, r)) for r in base.collect())
    want_schema = base.schema.simpleString()

    script = tmp_path / "mirror_job.py"
    script.write_text(_SUBPROC_SCRIPT.format(repo=REPO, sf=sf))
    env = dict(os.environ)
    env["SPARK_GRAFT_IMAGE_BACKEND"] = "mirror"
    out = subprocess.run(
        [sys.executable, str(script)], env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = {l.split("::", 1)[0]: l.split("::", 1)[1]
             for l in out.stdout.splitlines() if "::" in l}
    got_rows = sorted(tuple(r) for r in json.loads(lines["ROWS"]))
    assert got_rows == [tuple(r) for r in want_rows]
    assert lines["SCHEMA"] == want_schema

