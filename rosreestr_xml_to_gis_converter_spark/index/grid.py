"""Hierarchical discrete global grid index (H3/S2 analog, pure arithmetic).

The engine's spatial acceleration structure.  H3/S2 bindings are not
available in this environment, so the index is an equirectangular
quadtree grid whose *encode is closed-form integer arithmetic*:

    at resolution r (0..28) the world [-180,180) x [-90,90) is split into
    2^r x 2^r cells;  ix = floor((lon+180)/360 * 2^r), iy likewise for lat;
    cell_id = (r << 56) | (ix << 28) | iy      (fits in a positive int64)

This buys a property h3 cannot give us here: **the encode has two
bit-identical forms**.  The numpy one (:func:`latlng_to_cell`) runs inside
the broadcast Arrow kernels of the spatial join and kNN, which derive the
image points from ``phash`` and encode them in the same vectorized pass;
it also builds polygon covers, candidate lists and the numpy oracles.
The Column one (:func:`cell_col`) runs inside WholeStageCodegen for the
paths that need ``cell`` in the JVM: the shuffled equi-join and
``knn_bruteforce``; :func:`cell_sql` is the DuckDB oracles' form.

Semantics generalize the reference's per-parcel contour keying
(/root/reference/real_estate.py:735-782 builds ring sets per cadastral
number; we key space itself).  Cell ids are stable, sortable, and
prefix-compatible: ``cell_parent`` is two shifts, which makes Iceberg/
parquet partition pruning on a coarse parent column natural data layout
(SURVEY.md section 4 — layout instead of a custom Catalyst rule).
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 28
_RES_SHIFT = 56
_IX_SHIFT = 28
_IDX_MASK = (1 << 28) - 1

WORLD_LON0 = -180.0
WORLD_LAT0 = -90.0
WORLD_DLON = 360.0
WORLD_DLAT = 180.0


# ---------------------------------------------------------------------------
# numpy side (oracles, covers, tests) — bit-identical to the Column side
# ---------------------------------------------------------------------------

def _scale(res: int) -> int:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    return 1 << res


def latlng_to_cell(lat: np.ndarray | float, lon: np.ndarray | float, res: int) -> np.ndarray:
    """Vectorized point -> cell id (numpy mirror of :func:`cell_col`)."""
    n = _scale(res)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    ix = np.floor((lon - WORLD_LON0) / WORLD_DLON * n).astype(np.int64)
    iy = np.floor((lat - WORLD_LAT0) / WORLD_DLAT * n).astype(np.int64)
    ix = np.clip(ix, 0, n - 1)
    iy = np.clip(iy, 0, n - 1)
    return cell_id(ix, iy, res)


def cell_id(ix: np.ndarray | int, iy: np.ndarray | int, res: int) -> np.ndarray:
    return (
        (np.int64(res) << _RES_SHIFT)
        | (np.asarray(ix, dtype=np.int64) << _IX_SHIFT)
        | np.asarray(iy, dtype=np.int64)
    )


def cell_res(cell: np.ndarray | int) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) >> _RES_SHIFT


def cell_ij(cell: np.ndarray | int) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    return (c >> _IX_SHIFT) & _IDX_MASK, c & _IDX_MASK


def cell_parent(cell: np.ndarray | int, parent_res: int) -> np.ndarray:
    c = np.asarray(cell, dtype=np.int64)
    r = cell_res(c)
    d = r - parent_res
    ix, iy = cell_ij(c)
    return cell_id(ix >> d, iy >> d, parent_res)


def cell_to_bounds(cell: np.ndarray | int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_min, lat_min, lon_max, lat_max) of the cell rectangle."""
    c = np.asarray(cell, dtype=np.int64)
    r = cell_res(c)
    n = (np.int64(1) << r).astype(np.float64)
    ix, iy = cell_ij(c)
    w = WORLD_DLON / n
    h = WORLD_DLAT / n
    lon0 = WORLD_LON0 + ix * w
    lat0 = WORLD_LAT0 + iy * h
    return lon0, lat0, lon0 + w, lat0 + h


def cell_to_center(cell: np.ndarray | int) -> tuple[np.ndarray, np.ndarray]:
    lon0, lat0, lon1, lat1 = cell_to_bounds(cell)
    return (lon0 + lon1) * 0.5, (lat0 + lat1) * 0.5


def grid_disk(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)^2 square ring disk),
    clipped at the world edge.  Used for kNN candidate expansion."""
    c = np.int64(cell)
    res = int(cell_res(c))
    n = _scale(res)
    ix, iy = cell_ij(c)
    dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    nx = ix + dx.ravel()
    ny = iy + dy.ravel()
    ok = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
    return cell_id(nx[ok], ny[ok], res)


# ---------------------------------------------------------------------------
# Per-cell entry lists (CSR), shared by the point-side join and kNN: built
# on the driver, broadcast, looked up and expanded in numpy on the workers
# ---------------------------------------------------------------------------

def cell_lists(cells: np.ndarray, *cols: np.ndarray) -> tuple[np.ndarray, np.ndarray, list]:
    """Group entries by cell: ``(keys, offsets, cols)``, where cell
    ``keys[i]`` (ascending) owns ``col[offsets[i]:offsets[i + 1]]`` of each
    returned col, ordered by ``cols[0]``.  A trailing int64-max key with an
    empty list keeps every ``searchsorted`` position valid."""
    o = np.lexsort((cols[0], cells))
    keys, first = np.unique(np.asarray(cells, dtype=np.int64)[o], return_index=True)
    offsets = np.concatenate([first, [len(o)] * 2])
    return np.append(keys, np.iinfo(np.int64).max), offsets, [c[o] for c in cols]


def cell_list_spans(keys: np.ndarray, offsets: np.ndarray, cell: np.ndarray) -> tuple:
    """``(start, count)`` of each query cell's list in a :func:`cell_lists`
    index; count 0 for a cell without one (or -1, the null stand-in)."""
    pos = np.searchsorted(keys, cell)
    start = offsets[pos]
    return start, np.where(keys[pos] == cell, offsets[pos + 1] - start, 0)


def expand_spans(start: np.ndarray, count: np.ndarray, max_pairs: int):
    """Yield ``(row, local, start[row] + local)`` for every ``local <
    count[row]``, rows in order, in passes of about ``max_pairs`` pairs
    (one row's span is never split)."""
    ends = np.cumsum(count)
    a = 0
    while a < len(count):
        done = ends[a - 1] if a else 0
        b = max(a + 1, int(np.searchsorted(ends, done + max_pairs, side="right")))
        c = count[a:b]
        row = np.repeat(np.arange(a, b), c)
        local = np.arange(len(row)) - np.repeat(ends[a:b] - c - done, c)
        yield row, local, np.repeat(start[a:b], c) + local
        a = b


# ---------------------------------------------------------------------------
# Column side (WholeStageCodegen, no Python: the shuffled join's key)
# ---------------------------------------------------------------------------

def cell_col(lat: Column, lon: Column, res: int) -> Column:
    """Point -> cell id as a pure Column expression (JVM-side).

    Bit-identical to :func:`latlng_to_cell`: identical IEEE-754 double ops
    in identical order, then the same int64 packing.  A null ``lat`` or
    ``lon`` gives a null cell, which no equi-join matches.
    """
    n = _scale(res)
    nf = float(n)
    ix = F.floor((lon - F.lit(WORLD_LON0)) / F.lit(WORLD_DLON) * F.lit(nf)).cast("long")
    iy = F.floor((lat - F.lit(WORLD_LAT0)) / F.lit(WORLD_DLAT) * F.lit(nf)).cast("long")
    ix = F.greatest(F.lit(0), F.least(F.lit(n - 1), ix))
    iy = F.greatest(F.lit(0), F.least(F.lit(n - 1), iy))
    # greatest/least skip nulls (a null point would clamp to the world's
    # north-east corner cell), so the null guard is explicit.  It tests
    # lat/lon, not the clamp: a CASE clamp repeats ``ix`` three times in
    # the not-null filter Spark infers for the join key and pushes into
    # the scan, several times slower on a computed ``phash``.
    return F.when(
        lat.isNotNull() & lon.isNotNull(),
        F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + ix * F.lit(1 << _IX_SHIFT).cast("long")
        + iy,
    )


def cell_parent_col(cell: Column, child_res: int, parent_res: int) -> Column:
    """Coarsen a cell id (child_res -> parent_res) as Column arithmetic.

    Used for partition layout: store/partition by a coarse parent so the
    cell equi-join prunes file groups naturally at 100 TB.
    """
    d = child_res - parent_res
    ix = F.shiftright(cell, _IX_SHIFT).bitwiseAND(F.lit(_IDX_MASK))
    iy = cell.bitwiseAND(F.lit(_IDX_MASK))
    return (
        F.lit(parent_res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + F.shiftright(ix, d) * F.lit(1 << _IX_SHIFT).cast("long")
        + F.shiftright(iy, d)
    )


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The same encode as ANSI SQL text — for the DuckDB oracle.

    Operand order matches :func:`cell_col` exactly so doubles agree bitwise.
    """
    n = _scale(res)
    ix = (
        f"greatest(0, least({n - 1}, "
        f"CAST(floor(({lon_expr} - {WORLD_LON0}) / {WORLD_DLON} * {float(n)}) AS BIGINT)))"
    )
    iy = (
        f"greatest(0, least({n - 1}, "
        f"CAST(floor(({lat_expr} - {WORLD_LAT0}) / {WORLD_DLAT} * {float(n)}) AS BIGINT)))"
    )
    return f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} + {ix} * {1 << _IX_SHIFT} + {iy})"


# ---------------------------------------------------------------------------
# Polygon cover (numpy; runs inside pandas UDFs over the parcel layer)
# ---------------------------------------------------------------------------

def polygon_to_cells(
    rings: Sequence[np.ndarray] | Iterable[Sequence[Sequence[float]]],
    res: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Cover a multi-ring polygon with cells at resolution ``res``.

    Returns ``(cells, full)`` where ``full[i]`` is True when the cell
    rectangle lies entirely inside the polygon (the exact point-in-polygon
    refine can be skipped there — only boundary cells pay for the exact
    test).  The cover is conservative: every cell that could contain a
    polygon point is returned, so join exactness is preserved.

    Rings follow the reference emission shape (first ring outer, later
    rings holes, stored as ordered vertex lists with the closing vertex
    repeated — /root/reference/real_estate.py:735-782); here coordinates
    are (lon, lat) = (x, y).
    """
    from rosreestr_xml_to_gis_converter_spark.functions.geometry import (
        points_in_rings,
        segments_intersect_rect,
    )

    ring_arrays = [np.asarray(r, dtype=np.float64) for r in rings]
    if not ring_arrays or len(ring_arrays[0]) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)
    allpts = np.concatenate(ring_arrays, axis=0)
    lon_min, lat_min = allpts.min(axis=0)
    lon_max, lat_max = allpts.max(axis=0)

    n = _scale(res)
    w = WORLD_DLON / n
    h = WORLD_DLAT / n
    ix0 = int(np.clip(np.floor((lon_min - WORLD_LON0) / WORLD_DLON * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((lon_max - WORLD_LON0) / WORLD_DLON * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((lat_min - WORLD_LAT0) / WORLD_DLAT * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((lat_max - WORLD_LAT0) / WORLD_DLAT * n), 0, n - 1))

    gx, gy = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1))
    gx = gx.ravel()
    gy = gy.ravel()
    x0 = WORLD_LON0 + gx * w
    y0 = WORLD_LAT0 + gy * h
    x1 = x0 + w
    y1 = y0 + h

    # classify the 4 corners of every candidate cell
    corners_x = np.stack([x0, x1, x0, x1], axis=1)  # (m, 4)
    corners_y = np.stack([y0, y0, y1, y1], axis=1)
    inside = points_in_rings(corners_x.ravel(), corners_y.ravel(), ring_arrays)
    inside = inside.reshape(-1, 4)
    all_in = inside.all(axis=1)
    any_in = inside.any(axis=1)

    # any polygon edge crossing the cell rectangle makes it a boundary cell
    crossed = segments_intersect_rect(ring_arrays, x0, y0, x1, y1)

    full = all_in & ~crossed
    keep = any_in | crossed
    cells = cell_id(gx[keep], gy[keep], res)
    return cells, full[keep]
