"""Spatial-join parity: H3-accelerated result must EXACTLY match the
brute-force numpy oracle (SURVEY.md section 5 item 3)."""

from __future__ import annotations

import re
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
    """The broadcast path's executed plan: one Arrow stage whose input is
    exactly the image rows' ``(image_id, phash)``, no lon/lat/cell
    projection below it (the kernel derives them), no join node, no
    shuffle of the image side except the size-gated ``image_id`` spread,
    and no geometry entering Python."""
    lines = final_plan.splitlines()
    arrow = [i for i, ln in enumerate(lines) if "MapInArrow" in ln]
    assert len(arrow) == 1 and "MapInPandas" not in final_plan
    assert re.search(r"MapInArrow \w+\(image_id#\d+, phash#\d+L\)#", lines[arrow[0]]), lines[arrow[0]]
    below = lines[arrow[0] + 1 :]
    assert not [ln for ln in below if re.search(r"\b(lon|lat|cell)#", ln)], below
    assert "Join" not in final_plan
    exchanges = [ln for ln in lines if "Exchange" in ln]
    assert all("hashpartitioning(image_id#" in ln for ln in exchanges), exchanges


def _assert_scan_prunes_to_phash(final_plan: str) -> None:
    """Exactly one image scan, and the parquet reader prunes it to
    ``image_id`` and ``phash``."""
    scans = [ln for ln in final_plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1
    assert re.search(r"FileScan parquet \[image_id#\d+,phash#\d+L\]", scans[0]), scans[0]


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
    _assert_scan_prunes_to_phash(final_plan)


def test_knn_grid_plan_is_one_arrow_stage_over_phash(spark, tmp_path):
    """knn_grid against a parquet scan: one Arrow stage reading exactly
    ``(image_id, phash)`` from a scan pruned to those two columns, with
    no geotag or cell projection on the JVM side and no join."""
    import pandas as pd

    from rosreestr_xml_to_gis_converter_spark.operators.knn import knn_grid

    path = str(tmp_path / "images.parquet")
    spark.createDataFrame(
        _strip_bytes(gen_images_pdf(7, 50)), schema=IMAGES_SCHEMA
    ).write.parquet(path)
    cen = spark.createDataFrame(
        pd.DataFrame({"cad_number": ["a", "b", "c"], "clon": [31.0, 35.0, 40.0],
                      "clat": [51.0, 53.0, 55.0]})
    )
    out = knn_grid(spark.read.parquet(path), cen, TESTDATA_BOX, k=2, res=9, disk=1,
                   layer_fallback=True)
    assert out.count() == 50 * 2
    out.collect()
    final_plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    _assert_point_side_plan(final_plan)
    _assert_scan_prunes_to_phash(final_plan)


def _edge_phash(box: GeoBox, res: int, rng) -> np.ndarray:
    """phash values whose lon and lat fall on res-``res`` cell edges inside
    ``box``, each with its two neighbours in 2^-32 steps of the box side."""
    n = 1 << res
    fracs = []
    for v0, dv, w0, dw in ((box.lon0, box.dlon, -180.0, 360.0), (box.lat0, box.dlat, -90.0, 180.0)):
        lo, hi = int(np.ceil((v0 - w0) / dw * n)), int(np.floor((v0 + dv - w0) / dw * n))
        edge = w0 + rng.integers(lo, hi, 4) * (dw / n)
        f = np.floor((edge - v0) / dv * 2.0**32).astype(np.int64)
        fracs.append(np.clip((f[:, None] + np.arange(-1, 2)).ravel(), 0, (1 << 32) - 1))
    fx, fy = (f.astype(np.uint64) for f in fracs)
    return ((fy << np.uint64(32)) | fx).view(np.int64)


def test_kernel_points_bitwise_equal_column_geotag(spark):
    """The broadcast kernels' numpy point derivation (lon, lat, cell) is
    bit-identical to ``with_geotag`` + ``cell_col`` run through Spark:
    exact doubles and int64 cells, on phash 0, -1, 2^32 - 1, negative
    int64s, values on (and beside) cell edges at res 12, 14 and 28, and
    null.  A null phash has null lon/lat and a null cell in Spark, and
    the null flag and cell -1 in numpy: neither matches any cover cell."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import functions as F

    from rosreestr_xml_to_gis_converter_spark.index.grid import cell_col

    world = GeoBox(lon0=-180.0, lat0=-90.0, dlon=360.0, dlat=180.0)
    rng = np.random.default_rng(3)
    fixed = [0, -1, (1 << 32) - 1, -(1 << 63), -(1 << 62) - 12345, (1 << 63) - 1]
    on_edge = {(res, axis): False for res in (12, 14, 28) for axis in "xy"}
    for box in (TESTDATA_BOX, world):
        for res in (12, 14, 28):
            ph = np.concatenate([fixed, *(_edge_phash(box, r, rng) for r in (12, 14, 28))])
            x = (box.lon_np(ph) + 180.0) / 360.0 * (1 << res)
            y = (box.lat_np(ph) + 90.0) / 180.0 * (1 << res)
            on_edge[res, "x"] |= bool((x == np.floor(x)).any())
            on_edge[res, "y"] |= bool((y == np.floor(y)).any())
            col = pd.array([*ph.tolist(), None], dtype="Int64")
            df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(col)), "phash": col}))
            want = (
                sj.with_geotag(df, box)
                .select("i", "lon", "lat", cell_col(F.col("lat"), F.col("lon"), res).alias("cell"))
                .orderBy("i")
                .toArrow()
            )
            lon, lat, cell, null = sj._batch_points(pa.array(col, pa.int64()), box, res)
            assert null.tolist() == [False] * len(ph) + [True]
            assert want.column("lon").null_count == 1 and want.column("lat").null_count == 1
            for got, name in ((lon, "lon"), (lat, "lat")):
                exp = want.column(name).to_numpy(zero_copy_only=False)[:-1]
                assert np.array_equal(got[:-1].view(np.int64), exp.view(np.int64)), (box, res, name)
            assert np.array_equal(cell[:-1], want.column("cell").to_numpy(zero_copy_only=False)[:-1])
            assert cell[-1] == -1 and want.column("cell")[-1].as_py() is None
    # fixture sanity: at every res, some points sit exactly on a cell edge
    assert all(on_edge.values()), on_edge


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


def test_shuffled_join_drops_null_point_in_corner_cell(spark):
    """A null phash has a null point, so its cell is null and it joins no
    cover row, even when a full cover cell is the world's north-east
    corner (the cell a null-skipping clamp would give it)."""
    from rosreestr_xml_to_gis_converter_spark.index.grid import cell_id

    res = 3
    rect = np.array([[100.0, 50.0], [200.0, 50.0], [200.0, 100.0], [100.0, 100.0], [100.0, 50.0]])
    cover = build_parcel_cover(spark, [("corner", [rect])], res)
    corner = int(cell_id(7, 7, res))
    assert (corner, True) in {(r.cell, r.full) for r in cover.collect()}
    box = GeoBox(lon0=140.0, lat0=70.0, dlon=10.0, dlat=10.0)
    images = spark.createDataFrame([("in", 0), ("null", None)], "image_id string, phash long")
    for kw in ({}, {"broadcast_cover": False}, {"broadcast_cover": False, "salt": 4}):
        got = [tuple(r) for r in spatial_join(images, cover, box, **kw).collect()]
        assert got == [("in", "corner", corner)], kw


def test_cover_without_res_metadata_raises(spark):
    """An expression over ``cell`` drops the resolution metadata; the join
    must refuse the cover rather than assume a resolution."""
    from pyspark.sql import functions as F

    images = spark.createDataFrame([("a", 1)], "image_id string, phash long")
    cover = build_parcel_cover(spark, _parcels_rings(), 9)
    assert sj._cover_res(cover.select("*")) == 9
    for bare in (cover.withColumn("cell", F.col("cell") + 0), cover.withColumn("cell", F.col("cell").cast("long"))):
        for kw in ({}, {"broadcast_cover": False}):
            with pytest.raises(ValueError, match="res"):
                spatial_join(images, bare, TESTDATA_BOX, **kw)
        with pytest.raises(ValueError, match="res"):
            prepare_cover(bare)


def _subtree(lines: list[str], i: int) -> list[str]:
    """The plan lines below node ``i`` (deeper tree prefix)."""

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    out = []
    for ln in lines[i + 1 :]:
        if depth(ln) <= depth(lines[i]):
            break
        out.append(ln)
    return out


@pytest.mark.parametrize("salt", [None, 4])
def test_shuffled_join_plan_reads_images_once(spark, sf_dir, salt):
    """The shuffled join (no broadcast anywhere) scans the image relation
    once and reuses no exchange of it, shuffles it once on ``cell``
    (the cover side has the other ``cell`` exchange), joins once and
    refines every
    joined row in one Arrow stage: no Union of a relational branch and a
    refine branch, and no ``image_id`` spread under the ``cell``
    exchange."""
    import os

    from rosreestr_xml_to_gis_converter_spark.synth import images_from_lineitem

    img = images_from_lineitem(spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    cover = build_parcel_cover(spark, _parcels_rings(), RES)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = spatial_join(img, cover, TESTDATA_BOX, broadcast_cover=False, salt=salt)
        assert len(out.collect()) > 0
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = plan.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    scans = [ln for ln in lines if "FileScan" in ln]
    assert len(scans) == 1 and "lineitem" in scans[0] and "ReusedExchange" not in final, final
    cell_x = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(cell#" in ln]
    image_x = [i for i in cell_x if any("FileScan" in b for b in _subtree(lines, i))]
    assert len(cell_x) == 2 and len(image_x) == 1, final
    assert len([ln for ln in lines if "Join" in ln]) == 1, final
    assert "Union" not in final and "REPARTITION_BY_NUM" not in final, final
    assert final.count("MapInArrow") == 1, final
