"""Spatial-join parity: H3-accelerated result must EXACTLY match the
brute-force numpy oracle (SURVEY.md section 5 item 3)."""

from __future__ import annotations

import numpy as np
import pytest

from rosreestr_xml_to_gis_converter_spark.functions.geometry import points_in_rings
from rosreestr_xml_to_gis_converter_spark.index.grid import latlng_to_cell
from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import (
    build_parcel_cover,
    spatial_join,
)
from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA
from rosreestr_xml_to_gis_converter_spark.synth import (
    TESTDATA_BOX,
    gen_images_pdf,
    gen_parcels,
    parcels_to_contours_pdf,
    testdata_parcels_rings as _parcels_rings,
)

RES = 12


def brute_force_join(pdf, parcels, box):
    lon = box.lon_np(pdf["phash"].to_numpy(np.int64))
    lat = box.lat_np(pdf["phash"].to_numpy(np.int64))
    cells = latlng_to_cell(lat, lon, RES)
    expected = set()
    for cad, rings in parcels:
        inside = points_in_rings(lon, lat, rings)
        for i in np.flatnonzero(inside):
            expected.add((pdf["image_id"].iloc[i], cad, int(cells[i])))
    return expected


def _strip_bytes(pdf):
    pdf = pdf.copy()
    pdf["bytes"] = None
    return pdf


@pytest.mark.parametrize("seed,n_img,n_parcels", [(1, 400, 12), (2, 800, 25)])
def test_join_matches_brute_force_general_polygons(spark, seed, n_img, n_parcels):
    parcels = gen_parcels(seed, n_parcels)
    pdf = _strip_bytes(gen_images_pdf(seed, n_img))
    # remap phash into the box-straddling range: keep as-is (box covers the
    # full 2^32 fraction range by construction)
    images = spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)
    cover = build_parcel_cover(spark, parcels, RES)
    got = {
        (r.image_id, r.cad_number, r.cell)
        for r in spatial_join(images, cover, TESTDATA_BOX).collect()
    }
    # the shuffled path (geometry on the rows, per-batch edge table)
    # refines with the same kernel and must agree exactly
    shuffled = {
        (r.image_id, r.cad_number, r.cell)
        for r in spatial_join(images, cover, TESTDATA_BOX, broadcast_cover=False).collect()
    }
    want = brute_force_join(pdf, parcels, TESTDATA_BOX)
    assert got == want
    assert shuffled == want
    assert len(want) > 0  # fixture sanity: some images actually fall inside


def test_join_rectangle_layer_and_salted_path_agree(spark):
    parcels = _parcels_rings()
    pdf = _strip_bytes(gen_images_pdf(5, 600))
    images = spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)
    cover = build_parcel_cover(spark, parcels, RES)
    plain = {
        (r.image_id, r.cad_number)
        for r in spatial_join(images, cover, TESTDATA_BOX).collect()
    }
    salted = {
        (r.image_id, r.cad_number)
        for r in spatial_join(
            images, cover, TESTDATA_BOX, broadcast_cover=False, salt=4
        ).collect()
    }
    want = {(i, c) for i, c, _ in brute_force_join(pdf, parcels, TESTDATA_BOX)}
    assert plain == want
    assert salted == want


def test_distributed_cover_equals_driver_cover(spark):
    parcels = gen_parcels(3, 10)
    contours = spark.createDataFrame(parcels_to_contours_pdf(parcels))
    dist = build_parcel_cover(spark, contours, RES)
    local = build_parcel_cover(spark, parcels, RES)
    a = {(r.cell, r.cad_number, r.full) for r in dist.collect()}
    b = {(r.cell, r.cad_number, r.full) for r in local.collect()}
    assert a == b


def test_join_plan_is_codegen_and_broadcast(spark, tmp_path):
    """Against a parquet scan (the real path), the big side must stay in
    WholeStageCodegen up to the join, the cover side must broadcast, and
    the parquet reader must prune to the columns the join needs."""
    parcels = _parcels_rings()
    path = str(tmp_path / "images.parquet")
    spark.createDataFrame(
        _strip_bytes(gen_images_pdf(7, 50)), schema=IMAGES_SCHEMA
    ).write.parquet(path)
    images = spark.read.parquet(path)
    cover = build_parcel_cover(spark, parcels, RES)
    out = spatial_join(images, cover, TESTDATA_BOX)
    out.collect()  # AQE finalizes (and codegen-compiles) the plan on execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # AQE final plans mark whole-stage-codegen spans with "*(n)"
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    # column pruning: only image_id + phash leave the scan
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    assert "phash" in scan and "caption" not in scan and "bytes" not in scan
    # exactly one Python stage (the Arrow-native refine) in the pipeline
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("MapInArrow") + final_plan.count("MapInPandas") == 1


def test_broadcast_cover_size_guard_falls_back(spark):
    """Round-1 perf-weak #3: the broadcast path used to .collect() boundary
    geometry unconditionally.  Over the byte threshold spatial_join must
    auto-fall-back to the shuffled geometry-on-rows path (no driver
    collect, no MapInArrow) and still return the exact result."""
    import warnings

    from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import (
        CoverTooLargeError,
        prepare_cover,
    )

    parcels = _parcels_rings()
    pdf = _strip_bytes(gen_images_pdf(11, 300))
    images = spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)
    cover = build_parcel_cover(spark, parcels, RES)
    want = {(i, c) for i, c, _ in brute_force_join(pdf, parcels, TESTDATA_BOX)}

    # explicit prepare over the limit raises instead of collecting
    with pytest.raises(CoverTooLargeError):
        prepare_cover(cover, max_bytes=10)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = spatial_join(images, cover, TESTDATA_BOX, broadcast_max_bytes=10)
        got = {(r.image_id, r.cad_number) for r in out.collect()}
    assert got == want
    assert any("falling back to shuffled join" in str(w.message) for w in caught)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    # geometry rides the rows instead of a broadcast dict: the Arrow
    # stage's input carries the geom column (round 6 moved this path
    # from mapInPandas to the Arrow-native rows refine), and no pk-keyed
    # broadcast-dict projection appears
    assert "MapInArrow" in final_plan
    assert "geom#" in final_plan
    assert "MapInPandas" not in final_plan

    # small covers keep the broadcast-dict plan shape: pk-keyed, no geom
    # column through the Arrow hop
    out2 = spatial_join(images, cover, TESTDATA_BOX)
    out2.collect()
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    final_plan2 = plan2.split("== Initial Plan ==")[0]
    assert "MapInArrow" in final_plan2
    assert "pk#" in final_plan2
