"""kNN operator: grid-disk candidate path must equal brute force exactly
whenever the disk covers the true kNN radius."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rosreestr_xml_to_gis_converter_spark.operators.knn import (
    _segment_topk,
    knn_bruteforce,
    knn_grid,
)
from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA
from rosreestr_xml_to_gis_converter_spark.synth import TESTDATA_BOX, gen_images_pdf


@pytest.fixture(scope="module")
def images(spark):
    pdf = gen_images_pdf(31, 300)
    pdf["bytes"] = None
    return spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)


@pytest.fixture(scope="module")
def centroids(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "cad_number": [f"69:40:{i:07d}:1" for i in range(20)],
            "clon": TESTDATA_BOX.lon0 + rng.uniform(0.05, 0.95, 20) * TESTDATA_BOX.dlon,
            "clat": TESTDATA_BOX.lat0 + rng.uniform(0.05, 0.95, 20) * TESTDATA_BOX.dlat,
        }
    )
    return spark.createDataFrame(pdf)


def _rows(df):
    return {(r.image_id, r.cad_number, r.rank, r.dist) for r in df.collect()}


def test_grid_equals_bruteforce_when_disk_covers(spark, images, centroids):
    """res 5 cells are 11.25 x 5.625 deg; disk 2 spans > the whole box
    diagonal (13.4 deg), so the grid path must be exact."""
    want = _rows(knn_bruteforce(images, centroids, TESTDATA_BOX, k=3))
    got = _rows(knn_grid(images, centroids, TESTDATA_BOX, k=3, res=5, disk=2))
    assert got == want
    assert len(want) == 300 * 3


def test_grid_finer_res_smaller_disk_matches_disk_constrained_oracle(
    spark, images, centroids
):
    """At res 8 / disk 3 the disk may truncate far neighbors: the result
    must be exactly the top-k among centroids whose cell is within the
    disk of the image's cell (numpy oracle) — except that an image whose
    disk holds FEWER than k candidates falls back to the whole layer
    (round-4 completeness fallback), so the oracle ranks all centroids
    for those."""
    from rosreestr_xml_to_gis_converter_spark.index.grid import cell_ij, latlng_to_cell

    res, disk, k = 8, 3, 3
    got = {
        (r.image_id, r.cad_number, r["rank"])
        for _, r in knn_grid(images, centroids, TESTDATA_BOX, k=k, res=res, disk=disk)
        .toPandas()
        .iterrows()
    }
    ipdf = gen_images_pdf(31, 300)
    cpdf = centroids.toPandas()
    lon = TESTDATA_BOX.lon_np(ipdf["phash"].to_numpy(np.int64))
    lat = TESTDATA_BOX.lat_np(ipdf["phash"].to_numpy(np.int64))
    ix, iy = cell_ij(latlng_to_cell(lat, lon, res))
    cx, cy = cell_ij(latlng_to_cell(cpdf["clat"].to_numpy(), cpdf["clon"].to_numpy(), res))
    want = set()
    for i in range(len(ipdf)):
        within = (np.abs(cx - ix[i]) <= disk) & (np.abs(cy - iy[i]) <= disk)
        cand = cpdf[within].copy()
        if len(cand) < k:
            cand = cpdf.copy()  # whole-layer fallback
        cand["dist"] = np.sqrt(
            (lon[i] - cand["clon"]) ** 2 + (lat[i] - cand["clat"]) ** 2
        )
        cand = cand.sort_values(["dist", "cad_number"]).head(k)
        for rank, (_, r) in enumerate(cand.iterrows(), start=1):
            want.add((ipdf["image_id"].iloc[i], r.cad_number, rank))
    assert got == want


def test_knn_deterministic_tiebreak(spark):
    """Two centroids at identical distance -> cad_number ascending."""
    img = spark.createDataFrame(
        pd.DataFrame(
            [("i1", None, 1, 1, "png", "c", 0)],
            columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
        ),
        schema=IMAGES_SCHEMA,
    )
    # phash 0 -> lon=lon0, lat=lat0; place centroids symmetric around it
    cen = spark.createDataFrame(
        pd.DataFrame(
            {
                "cad_number": ["b", "a"],
                "clon": [TESTDATA_BOX.lon0 + 1.0, TESTDATA_BOX.lon0 - 1.0],
                "clat": [TESTDATA_BOX.lat0, TESTDATA_BOX.lat0],
            }
        )
    )
    out = knn_bruteforce(img, cen, TESTDATA_BOX, k=2).toPandas().sort_values("rank")
    assert out["cad_number"].tolist() == ["a", "b"]


def test_uncovered_images_fall_back_to_whole_layer(spark, images):
    """A sparse centroid layer leaves most images with EMPTY grid disks;
    before round 4 those silently vanished from knn_grid's inner join.
    Now every distinct image must emit exactly k rows equal to true kNN
    (the whole layer is the candidate set either way here, because all
    centroids share one res-9 cell)."""
    from rosreestr_xml_to_gis_converter_spark.index.grid import latlng_to_cell
    from rosreestr_xml_to_gis_converter_spark.queries_engine import SPARSE_CENTROIDS

    cpdf = pd.DataFrame(SPARSE_CENTROIDS, columns=["cad_number", "clon", "clat"])
    # fixture precondition: all sparse centroids share ONE res-9 cell
    cells = latlng_to_cell(cpdf["clat"].to_numpy(), cpdf["clon"].to_numpy(), 9)
    assert len(set(cells.tolist())) == 1
    cen = spark.createDataFrame(cpdf)
    got = _rows(knn_grid(images, cen, TESTDATA_BOX, k=3, res=9, disk=1))
    want = _rows(knn_bruteforce(images, cen, TESTDATA_BOX, k=3))
    assert got == want
    assert len(got) == 300 * 3  # no image dropped
    # both paths genuinely exercised: some disks see the cluster, most not
    ipdf = gen_images_pdf(31, 300)
    lon = TESTDATA_BOX.lon_np(ipdf["phash"].to_numpy(np.int64))
    lat = TESTDATA_BOX.lat_np(ipdf["phash"].to_numpy(np.int64))
    from rosreestr_xml_to_gis_converter_spark.index.grid import cell_ij

    ix, iy = cell_ij(latlng_to_cell(lat, lon, 9))
    cx, cy = cell_ij(cells[0])
    covered = (np.abs(ix - cx) <= 1) & (np.abs(iy - cy) <= 1)
    assert 0 < covered.sum() < 300


def test_escalation_exact_with_layer_gate_closed(spark, images, centroids):
    """The 20-centroid layer at res 8 / disk 1 leaves most image disks
    short of k: those must equal TRUE kNN (they rank the whole layer),
    while images whose base disk holds >= k keep the disk-constrained
    semantics."""
    from rosreestr_xml_to_gis_converter_spark.index.grid import cell_ij, latlng_to_cell

    res, disk, k = 8, 1, 3
    got = {
        (r.image_id, r.cad_number, r["rank"])
        for r in knn_grid(images, centroids, TESTDATA_BOX, k=k, res=res, disk=disk).collect()
    }
    ipdf = gen_images_pdf(31, 300)
    cpdf = centroids.toPandas()
    lon = TESTDATA_BOX.lon_np(ipdf["phash"].to_numpy(np.int64))
    lat = TESTDATA_BOX.lat_np(ipdf["phash"].to_numpy(np.int64))
    ix, iy = cell_ij(latlng_to_cell(lat, lon, res))
    cx, cy = cell_ij(latlng_to_cell(cpdf["clat"].to_numpy(), cpdf["clon"].to_numpy(), res))
    want = set()
    n_short = 0
    for i in range(len(ipdf)):
        within = (np.abs(cx - ix[i]) <= disk) & (np.abs(cy - iy[i]) <= disk)
        cand = cpdf[within].copy()
        if len(cand) < k:
            cand = cpdf.copy()  # short rows must equal TRUE kNN
            n_short += 1
        cand["dist"] = np.sqrt(
            (lon[i] - cand["clon"]) ** 2 + (lat[i] - cand["clat"]) ** 2
        )
        cand = cand.sort_values(["dist", "cad_number"]).head(k)
        for rank, (_, r) in enumerate(cand.iterrows(), start=1):
            want.add((ipdf["image_id"].iloc[i], r.cad_number, rank))
    assert n_short > 100  # the fixture genuinely stresses the short-disk path
    assert got == want


def test_escalation_auto_gate_opens_for_small_layer(spark, images):
    """layer_fallback=None (the guarded collect) must accept a 5-row
    layer: every image emits exactly k true-kNN rows even at res 9 /
    disk 1."""
    from rosreestr_xml_to_gis_converter_spark.queries_engine import SPARSE_CENTROIDS

    cen = spark.createDataFrame(
        pd.DataFrame(SPARSE_CENTROIDS, columns=["cad_number", "clon", "clat"])
    )
    got = _rows(knn_grid(images, cen, TESTDATA_BOX, k=3, res=9, disk=1))
    want = _rows(knn_bruteforce(images, cen, TESTDATA_BOX, k=3))
    assert got == want and len(got) == 300 * 3


def test_escalation_auto_gate_closes_on_small_broadcast_cap(spark, images, monkeypatch):
    """The guarded collect (layer_fallback=None) derives its row cap from
    BROADCAST_COVER_MAX_BYTES and ``disk``: with the cap shrunk to 3 rows
    at disk 1, a 5-centroid layer raises LayerTooLargeError naming the
    cap and ``layer_fallback=True`` before the layer table is built or
    anything is broadcast.  ``layer_fallback=False`` is rejected."""
    from rosreestr_xml_to_gis_converter_spark.operators import knn
    from rosreestr_xml_to_gis_converter_spark.queries_engine import SPARSE_CENTROIDS

    cen = spark.createDataFrame(
        pd.DataFrame(SPARSE_CENTROIDS, columns=["cad_number", "clon", "clat"])
    )

    def boom(*_a, **_k):
        raise AssertionError("nothing may be built or broadcast over the cap")

    monkeypatch.setattr(knn, "BROADCAST_COVER_MAX_BYTES", 3 * (25 + 24 * 9) + 1)
    monkeypatch.setattr(knn, "_layer_table", boom)
    monkeypatch.setattr(spark.sparkContext, "broadcast", boom)
    assert knn._max_layer_rows(1) == 3
    with pytest.raises(knn.LayerTooLargeError, match=r"more than 3 rows.*layer_fallback=True"):
        knn_grid(images, cen, TESTDATA_BOX, k=3, res=9, disk=1)
    with pytest.raises(ValueError, match="removed"):
        knn_grid(images, cen, TESTDATA_BOX, k=3, res=9, disk=1, layer_fallback=False)


def _one_img_rows(spark, rows):
    """(image_id, phash) pairs -> an images frame (phash may be None)."""
    return spark.createDataFrame(
        pd.DataFrame(
            [(i, None, 1, 1, "png", "c", ph) for i, ph in rows],
            columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
        ).astype({"phash": "Int64"}),
        schema=IMAGES_SCHEMA,
    )


def test_numpy_topk_edge_cases_match_bruteforce(spark):
    """Gate-open knn_grid and knn_literal against knn_bruteforce, with
    ``dist`` compared as exact doubles: an equidistant pair (tie broken
    by cad_number), an image whose disk is empty and one whose disk is
    short (both rank the whole layer), one whose disk holds >= k, a
    duplicated image_id (k rows per input ROW), a null phash (k rows of
    null dist in cad_number order), and k > |layer| (min(k, |layer|)
    rows per row)."""
    from collections import Counter

    from rosreestr_xml_to_gis_converter_spark.operators.knn import knn_literal

    b = TESTDATA_BOX
    # phash -> (lon0 + fx * dlon, lat0 + fy * dlat) for fractions f / 2^32
    quarter = (1 << 30 << 32) | (1 << 30)  # (lon0 + 3, lat0 + 1.5)
    far = (1 << 29 << 32) | (1 << 31)  # (lon0 + 6, lat0 + 0.75)
    layer = [
        ("b", b.lon0 + 1.0, b.lat0),  # equidistant from phash 0 ...
        ("a", b.lon0 - 1.0, b.lat0),  # ... so a ranks before b
        ("c", b.lon0 + 5.0, b.lat0 + 3.0),
        ("e4", b.lon0 + 3.04, b.lat0 + 1.5),
        ("e1", b.lon0 + 3.01, b.lat0 + 1.5),
        ("e3", b.lon0 + 3.0, b.lat0 + 1.53),
        ("e2", b.lon0 + 2.98, b.lat0 + 1.5),
    ]
    cen = spark.createDataFrame(
        pd.DataFrame(layer, columns=["cad_number", "clon", "clat"])
    )
    rows = [("tie", 0), ("empty", far), ("full", quarter), ("dup", quarter), ("null", None)]
    images = _one_img_rows(spark, rows + [("dup", quarter)])

    def bag(df):
        return Counter((r.image_id, r.cad_number, r["rank"], r.dist) for r in df.collect())

    for k in (3, len(layer) + 2):
        want = bag(knn_bruteforce(_one_img_rows(spark, rows), cen, b, k=k))
        want.update({key: n for key, n in want.items() if key[0] == "dup"})
        grid = knn_grid(images, cen, b, k=k, res=9, disk=1, layer_fallback=True)
        literal = knn_literal(images, layer, b, k=k)
        for got in (bag(grid), bag(literal)):
            assert got == want
        n = min(k, len(layer))
        assert sum(want.values()) == n * (len(rows) + 1)
        ranked = sorted(want, key=lambda t: (t[0], t[2]))
        assert [t[1] for t in ranked if t[0] == "tie"][:2] == ["a", "b"]
        nulls = [t for t in ranked if t[0] == "null"]
        assert [t[1] for t in nulls] == sorted(c for c, _, _ in layer)[:n]
        assert all(t[3] is None for t in nulls)


@pytest.mark.parametrize("seed", range(6))
def test_segment_topk_matches_lexsort(seed):
    """The kernel's segmented top-k equals the sort it replaced,
    ``lexsort((ords, key, row))`` keeping each row's first k, on ragged
    segments with many tied keys, -inf (null) and +inf keys, segments
    shorter than k, and k larger than every segment; ``ords`` ascend in
    every segment, as the candidate lists do."""
    rng = np.random.default_rng(seed)
    size = rng.integers(1, 9, int(rng.integers(1, 300)))
    starts = np.concatenate([[0], np.cumsum(size)[:-1]])
    row = np.repeat(np.arange(len(size)), size)
    local = np.arange(len(row)) - np.repeat(starts, size)
    ords = np.cumsum(rng.integers(1, 4, len(row)))
    key = rng.integers(0, 4, len(row)).astype(np.float64)
    key[rng.random(len(row)) < 0.2] = -np.inf
    key[rng.random(len(row)) < 0.05] = np.inf
    before = key.copy()
    for k in (1, 3, int(size.max()) + 2):
        o = np.lexsort((ords, key, row))
        sel = local < k
        top, rank = _segment_topk(key, starts, k)
        assert np.array_equal(top, o[sel])
        assert np.array_equal(rank, local[sel] + 1)
    assert np.array_equal(key, before)
    empty = _segment_topk(np.empty(0), np.empty(0, dtype=np.int64), 3)
    assert [len(a) for a in empty] == [0, 0]
