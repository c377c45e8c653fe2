"""End-to-end EP1-analog pipeline test: XML -> parcel layer -> join ->
tiles -> checkpointed outputs, resumable."""

from __future__ import annotations

import pytest

from rosreestr_xml_to_gis_converter_spark.pipeline import convert_extracts
from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA
from rosreestr_xml_to_gis_converter_spark.sources.synth_xml import (
    kvzu_xml,
    land_record_xml,
    unsupported_xml,
)
from rosreestr_xml_to_gis_converter_spark.synth import (
    TESTDATA_BOX,
    gen_images_pdf,
    gen_parcels,
)


@pytest.fixture(scope="module")
def files(spark):
    docs = []
    for i, (cad, rings) in enumerate(gen_parcels(17, 12)):
        xml = kvzu_xml(cad, rings) if i % 2 == 0 else land_record_xml(cad, rings)
        docs.append((f"synth-{i}.xml", bytearray(xml.encode())))
    docs.append(("bad.xml", bytearray(unsupported_xml().encode())))
    return spark.createDataFrame(docs, schema="path string, content binary")


def test_full_pipeline_and_resume(spark, files, tmp_path):
    pdf = gen_images_pdf(23, 500)
    pdf["bytes"] = None
    images = spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)
    out = str(tmp_path / "out")
    s = convert_extracts(spark, files, images, TESTDATA_BOX, out, run_id="r1")
    assert s["n_parcels"] == 12
    assert s["n_errors"] == 1
    assert s["n_join_rows"] > 0
    assert s["n_tiles"] > 0
    assert s["secs"] >= 1

    # brute-force parity of the stored join rows
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.functions.geometry import points_in_rings

    lon = TESTDATA_BOX.lon_np(pdf["phash"].to_numpy())
    lat = TESTDATA_BOX.lat_np(pdf["phash"].to_numpy())
    want = set()
    for cad, rings in gen_parcels(17, 12):
        inside = points_in_rings(lon, lat, rings)
        for i in np.flatnonzero(inside):
            want.add((pdf["image_id"].iloc[i], cad))
    stored = spark.read.parquet(f"{out}/join/data")
    got = {(r.image_id, r.cad_number) for r in stored.collect()}
    assert got == want

    # rerun with the same run_id: all buckets checkpointed -> no rewrite,
    # identical output
    s2 = convert_extracts(spark, files, images, TESTDATA_BOX, out, run_id="r1")
    got2 = {
        (r.image_id, r.cad_number)
        for r in spark.read.parquet(f"{out}/join/data").collect()
    }
    assert got2 == want
    assert s2["n_join_rows"] == s["n_join_rows"]
