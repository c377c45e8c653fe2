"""Geometry kernel unit tests — golden fixtures reproducing the reference
semantics (SURVEY.md section 5 item 1)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rosreestr_xml_to_gis_converter_spark.functions.geometry import (
    edge_table,
    gauss_area,
    normalize_rings,
    points_in_polygons,
    points_in_rings,
    polygon_centroid,
    segment_rings,
)

SQUARE = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)  # CCW
SQUARE_CW = SQUARE[::-1].copy()
HOLE = np.array([[1, 1], [1, 3], [3, 3], [3, 1], [1, 1]], dtype=float)  # CW


def test_gauss_area_matches_reference_sign_convention():
    # reference formula (two - one) / 2: CCW ring in (a, b) order -> negative
    # (/root/reference/logic.py:71-80 with [y, x] storage makes positive=CW)
    assert gauss_area(SQUARE) == -16.0
    assert gauss_area(SQUARE_CW) == 16.0
    assert gauss_area(np.array([[0, 0], [1, 1]], dtype=float)) == pytest.approx(0.0)
    assert gauss_area(np.array([[5, 5]], dtype=float)) == 0.0


def test_normalize_rings_first_positive_holes_negative():
    out = normalize_rings([SQUARE, HOLE])
    assert gauss_area(out[0]) > 0  # outer forced positive (reversed from CCW)
    assert gauss_area(out[1]) < 0  # hole forced negative (reversed from CW)
    # idempotent
    out2 = normalize_rings(out)
    assert all(np.array_equal(a, b) for a, b in zip(out, out2))


def test_segment_rings_on_label_repeat():
    labels = np.array(["1", "2", "3", "1", "7", "8", "9", "7"])
    xy = np.arange(16, dtype=float).reshape(8, 2)
    rings = segment_rings(labels, xy)
    assert len(rings) == 2
    assert len(rings[0]) == 4  # closing vertex included
    assert np.array_equal(rings[0][0], xy[0])
    assert np.array_equal(rings[0][-1], xy[3])
    assert len(rings[1]) == 4


def test_segment_rings_trailing_open_ring_kept():
    labels = np.array(["1", "2", "1", "5", "6"])
    xy = np.arange(10, dtype=float).reshape(5, 2)
    rings = segment_rings(labels, xy)
    assert len(rings) == 2
    assert len(rings[1]) == 2  # unterminated tail emitted as-is


def test_pip_square_half_open_convention():
    rings = [SQUARE]
    px = np.array([2.0, 0.0, 4.0, 2.0, 2.0, -1.0])
    py = np.array([2.0, 2.0, 2.0, 0.0, 4.0, 2.0])
    got = points_in_rings(px, py, rings)
    # [xmin, xmax) x [ymin, ymax): left/bottom edges in, right/top out
    assert got.tolist() == [True, True, False, True, False, False]


def test_pip_hole_subtracts():
    rings = [SQUARE, HOLE]
    px = np.array([2.0, 0.5, 3.5])
    py = np.array([2.0, 0.5, 3.5])
    assert points_in_rings(px, py, rings).tolist() == [False, True, True]


def test_pip_orientation_invariant():
    px = np.array([2.0, 5.0])
    py = np.array([2.0, 5.0])
    a = points_in_rings(px, py, [SQUARE])
    b = points_in_rings(px, py, [SQUARE_CW])
    assert a.tolist() == b.tolist() == [True, False]


def test_centroid_rect_with_hole():
    cx, cy = polygon_centroid([SQUARE, HOLE])
    assert (cx, cy) == pytest.approx((2.0, 2.0))


@st.composite
def simple_polygon(draw):
    """Random star-shaped polygon (guaranteed simple)."""
    n = draw(st.integers(min_value=3, max_value=12))
    radii = [draw(st.floats(0.5, 5.0, allow_nan=False)) for _ in range(n)]
    angles = np.sort(np.linspace(0, 2 * np.pi, n, endpoint=False))
    pts = np.stack(
        [np.array(radii) * np.cos(angles), np.array(radii) * np.sin(angles)], axis=1
    )
    return np.vstack([pts, pts[:1]])


@settings(max_examples=50, deadline=None)
@given(simple_polygon())
def test_property_normalization_idempotent_and_area_invariant(poly):
    out1 = normalize_rings([poly])
    out2 = normalize_rings(out1)
    assert np.array_equal(out1[0], out2[0])
    assert abs(gauss_area(out1[0])) == pytest.approx(abs(gauss_area(poly)))
    assert gauss_area(out1[0]) >= 0


@settings(max_examples=30, deadline=None)
@given(simple_polygon(), st.integers(0, 2**32 - 1))
def test_property_pip_matches_matplotlib_free_winding(poly, seed):
    """Cross-check even-odd PIP against an independent crossing-number
    implementation on random points."""
    rng = np.random.default_rng(seed)
    px = rng.uniform(-6, 6, 64)
    py = rng.uniform(-6, 6, 64)
    got = points_in_rings(px, py, [poly])
    ref = np.array([_slow_pip(x, y, poly) for x, y in zip(px, py)])
    assert np.array_equal(got, ref)


def _slow_pip(x: float, y: float, ring: np.ndarray) -> bool:
    inside = False
    n = len(ring) - 1
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > y) != (y2 > y):
            xint = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            if x < xint:
                inside = not inside
    return inside


def _pip_per_ring(px, py, rings):
    """Reference: one (points x edges) broadcast per ring, parity XORed
    across rings — the per-polygon arithmetic the edge-table kernel must
    reproduce bit for bit."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) < 3:
            continue
        if r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]:
            r = np.vstack([r, r[:1]])
        x1, y1, x2, y2 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        pyc, pxc = py[:, None], px[:, None]
        cond = (y1 > pyc) != (y2 > pyc)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (pyc - y1) / (y2 - y1) + x1
        inside ^= ((cond & (pxc < xint)).sum(axis=1) % 2).astype(bool)
    return inside


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_points_in_polygons_matches_per_polygon_loop(seed):
    """The flat edge-table kernel over many polygons == a per-polygon
    ``points_in_rings`` loop == the per-ring reference, bit for bit.
    Coordinates sit on a half-unit lattice so axis-aligned edges (the
    half-open ``[min, max)`` convention) and points exactly on vertices
    are common; polygons mix closed and unclosed rings, holes, rings of
    fewer than 3 vertices and polygons with no edge at all."""
    rng = np.random.default_rng(seed)
    polys = []
    for j in range(60):
        rings = [SQUARE + j % 5, HOLE + j % 5] if j % 7 == 0 else []
        for _ in range(rng.integers(0, 4)):
            pts = np.round(rng.uniform(0, 10, (rng.integers(1, 10), 2)) * 2) / 2
            if rng.random() < 0.5:
                pts = np.vstack([pts, pts[:1]])  # closed ring
            rings.append(pts)
        polys.append(rings)
    n = 5000
    px = np.round(rng.uniform(-1, 11, n) * 2) / 2
    py = np.round(rng.uniform(-1, 11, n) * 2) / 2
    # a fifth of the points sit exactly on a vertex of their polygon
    poly = rng.integers(0, len(polys), n)
    for i in np.flatnonzero(rng.random(n) < 0.2):
        verts = [v for r in polys[poly[i]] for v in r]
        if verts:
            px[i], py[i] = verts[rng.integers(len(verts))]
    edges, starts = edge_table(polys)
    got = points_in_polygons(px, py, poly, edges, starts)
    loop = np.zeros(n, dtype=bool)
    ref = np.zeros(n, dtype=bool)
    for j, rings in enumerate(polys):
        sel = poly == j
        loop[sel] = points_in_rings(px[sel], py[sel], rings)
        ref[sel] = _pip_per_ring(px[sel], py[sel], rings)
    assert np.array_equal(got, loop)
    assert np.array_equal(got, ref)
    assert 0 < got.sum() < n  # fixture sanity: both outcomes occur
    assert (np.diff(starts) == 0).any()  # a polygon with no edge
