"""Spatial-join parity: H3-accelerated result must EXACTLY match the
brute-force numpy oracle (SURVEY.md section 5 item 3)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from rosreestr_xml_to_gis_converter_spark.functions.geometry import points_in_rings
from rosreestr_xml_to_gis_converter_spark.index.grid import latlng_to_cell
from rosreestr_xml_to_gis_converter_spark.operators import spatial_join as sj
from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import (
    build_parcel_cover,
    prepare_cover,
    spatial_join,
)
from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA
from rosreestr_xml_to_gis_converter_spark.synth import (
    TESTDATA_BOX,
    GeoBox,
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


def _assert_point_side_plan(final_plan: str) -> None:
    """The broadcast path's executed plan: one Arrow stage over the image
    rows, no join node, no shuffle of the image side except the
    size-gated ``image_id`` spread, and no geometry entering Python."""
    lines = final_plan.splitlines()
    arrow = [ln for ln in lines if "MapInArrow" in ln]
    assert len(arrow) == 1 and "MapInPandas" not in final_plan
    assert "geom#" not in arrow[0]
    assert "Join" not in final_plan
    exchanges = [ln for ln in lines if "Exchange" in ln]
    assert all("hashpartitioning(image_id#" in ln for ln in exchanges), exchanges


def test_join_plan_is_codegen_and_broadcast(spark, tmp_path):
    """Against a parquet scan (the real path), the image side is scanned
    once, stays in WholeStageCodegen up to the single Arrow stage that
    joins it against the broadcast cover index, and the parquet reader
    prunes to the columns the join needs."""
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
    final_plan = plan.split("== Initial Plan ==")[0]
    _assert_point_side_plan(final_plan)
    # AQE final plans mark whole-stage-codegen spans with "*(n)"
    assert "*(1)" in final_plan or "WholeStageCodegen" in final_plan
    # exactly one image scan; column pruning: only image_id + phash leave it
    scans = [ln for ln in final_plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1
    assert "phash" in scans[0] and "caption" not in scans[0] and "bytes" not in scans[0]


def test_broadcast_cover_size_guard_falls_back(spark):
    """Over the byte threshold, prepare_cover raises before collecting
    anything and spatial_join falls back to the shuffled geometry-on-rows
    path, still returning the exact result."""
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
    # geometry rides the rows instead of a broadcast table: the Arrow
    # refine's input carries the geom column
    assert "MapInArrow" in final_plan
    assert "geom#" in final_plan
    assert "MapInPandas" not in final_plan

    # small covers keep the point-side plan: the image rows scanned once
    # into one Arrow stage, no join, no geom column through the Arrow hop
    out2 = spatial_join(images, cover, TESTDATA_BOX)
    assert {(r.image_id, r.cad_number) for r in out2.collect()} == want
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    final_plan2 = plan2.split("== Initial Plan ==")[0]
    _assert_point_side_plan(final_plan2)
    assert final_plan2.count("LocalTableScan") == 1


# Overlapping general polygons (rectangles, holes, L-shapes, triangles)
# packed into a small box, and a wider geotag box so that some images fall
# in no cover cell.  phash < 2^63, so image latitudes span the lower half
# of _IMG_BOX: [51.75, 53.25).
_OVERLAP_BOX = GeoBox(lon0=35.0, lat0=52.0, dlon=2.0, dlat=1.0)
_IMG_BOX = GeoBox(lon0=34.5, lat0=51.75, dlon=3.0, dlat=3.0)


def test_point_side_join_matches_brute_force_multiset(spark, monkeypatch):
    """The point-side kernel against brute force, row multiplicity
    included, and every spatial_join path against the same answer."""
    parcels = gen_parcels(4, 40, _OVERLAP_BOX)
    cover = build_parcel_cover(spark, parcels, RES)
    entries: dict[int, list[bool]] = {}
    for r in cover.select("cell", "full").collect():
        entries.setdefault(r.cell, []).append(r.full)
    # a cell holding a full entry of one parcel and a boundary entry of
    # another
    assert any(any(e) and not all(e) for e in entries.values())

    rng = np.random.default_rng(4)
    phash = rng.integers(0, 2**63 - 1, size=600, dtype=np.int64)
    rows = [(f"img-{i:04d}", int(p)) for i, p in enumerate(phash)]
    rows += rows[:60]  # duplicate image_id rows: one match set per row
    rows += [(f"null-{i}", None) for i in range(5)]  # null phash: no output
    images = spark.createDataFrame(rows, "image_id string, phash long")

    ph = np.array([p for _, p in rows[:-5]], dtype=np.int64)
    lon, lat = _IMG_BOX.lon_np(ph), _IMG_BOX.lat_np(ph)
    cells = latlng_to_cell(lat, lon, RES)
    assert not np.isin(cells, list(entries)).all()  # images in no cover cell
    want: Counter = Counter()
    for cad, rings in parcels:
        for i in np.flatnonzero(points_in_rings(lon, lat, rings)):
            want[(rows[i][0], cad, int(cells[i]))] += 1
    assert len(want) > 0 and max(want.values()) == 2

    def got(df):
        return Counter((r.image_id, r.cad_number, r.cell) for r in df.collect())

    # a pass bound far below a batch's candidate pairs: every batch is
    # expanded and refined in several passes
    monkeypatch.setattr(sj, "_PAIRS_PER_PASS", 7)
    assert got(spatial_join(images, cover, _IMG_BOX)) == want
    monkeypatch.undo()
    assert got(spatial_join(images, cover, _IMG_BOX)) == want
    assert got(spatial_join(images, prepare_cover(cover), _IMG_BOX)) == want
    assert got(spatial_join(images, cover, _IMG_BOX, broadcast_cover=False)) == want
    assert got(spatial_join(images, cover, _IMG_BOX, broadcast_cover=False, salt=3)) == want


def test_salt_on_broadcast_path_raises(spark):
    """The point-side join has no join to salt: a salt there is an error,
    not a silently ignored argument."""
    images = spark.createDataFrame([("a", 1)], "image_id string, phash long")
    cover = build_parcel_cover(spark, _parcels_rings(), RES)
    with pytest.raises(ValueError, match="salt"):
        spatial_join(images, cover, TESTDATA_BOX, salt=4)
    with pytest.raises(ValueError, match="salt"):
        spatial_join(images, prepare_cover(cover), TESTDATA_BOX, broadcast_cover=False, salt=4)
