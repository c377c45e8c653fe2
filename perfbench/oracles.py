"""Expected results, computed without the engine.

Each realization here is independent of the code under test: DuckDB SQL
for rectangle containment and for the kNN cross-join, numpy for the
even-odd point-in-polygon of holes, L-shapes and triangles and for the
full kNN ranking, an inverted index for every near-duplicate pair with
its exact Jaccard, and numpy for the sign-LSH top-k with exact cosine on
quantized vectors.  Only the arithmetic conventions are shared with the
engine (documented there): the phash -> (lon, lat) derivation, the grid
cell packing, the half-open containment rule, the hyperplane draw and
the IEEE op order of distances and projections, so that doubles agree
bit for bit.
"""

from __future__ import annotations

import itertools
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

_MASK32 = 0xFFFFFFFF
_TWO32 = 4294967296.0


def lonlat_of(phash: np.ndarray, box) -> tuple[np.ndarray, np.ndarray]:
    """The engine's documented geotag rule: low 32 bits of phash -> lon,
    next 32 bits -> lat, as fractions of the box."""
    ph = np.asarray(phash, dtype=np.int64)
    lon = box.lon0 + (ph & _MASK32).astype(np.float64) / _TWO32 * box.dlon
    lat = box.lat0 + ((ph >> 32) & _MASK32).astype(np.float64) / _TWO32 * box.dlat
    return lon, lat


def grid_ij(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Equirectangular 2^res x 2^res world grid indices."""
    n = 1 << res
    ix = np.clip(np.floor((lon - -180.0) / 360.0 * float(n)).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((lat - -90.0) / 180.0 * float(n)).astype(np.int64), 0, n - 1)
    return ix, iy


def cell_of(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    ix, iy = grid_ij(lon, lat, res)
    return (np.int64(res) << 56) | (ix << 28) | iy


def inside_even_odd(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd containment over all rings (holes subtract): a ring edge
    counts when it straddles the point's latitude (half-open in y) and
    crosses the eastward ray strictly east of the point."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            straddle = (y1 > py) != (y2 > py)
            if not straddle.any():
                continue
            idx = np.flatnonzero(straddle)
            xs = (x2 - x1) * (py[idx] - y1) / (y2 - y1) + x1
            inside[idx[px[idx] < xs]] ^= True
    return inside


def _is_rect(rings) -> bool:
    if len(rings) != 1 or len(rings[0]) != 5:
        return False
    r = rings[0]
    return len(set(r[:, 0])) == 2 and len(set(r[:, 1])) == 2


def join_pairs(lon: np.ndarray, lat: np.ndarray, parcels) -> tuple[np.ndarray, np.ndarray]:
    """(point index, parcel index) of every containment pair.

    Rectangles go through DuckDB (half-open range predicates); every other
    shape through :func:`inside_even_odd` on the points inside its bbox."""
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    rects, pi, pj = [], [], []
    for j, (_cad, rings) in enumerate(parcels):
        if _is_rect(rings):
            r = rings[0]
            rects.append((j, r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()))
            continue
        allpts = np.concatenate(rings)
        lo = np.searchsorted(slon, allpts[:, 0].min(), side="left")
        hi = np.searchsorted(slon, allpts[:, 0].max(), side="right")
        cand = order[lo:hi]
        cand = cand[(lat[cand] >= allpts[:, 1].min()) & (lat[cand] <= allpts[:, 1].max())]
        hit = cand[inside_even_odd(lon[cand], lat[cand], rings)]
        pi.append(hit)
        pj.append(np.full(len(hit), j, dtype=np.int64))
    con = duckdb.connect()
    try:
        con.register("pts", pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat}))
        con.register("rects", pd.DataFrame(rects, columns=["j", "x0", "y0", "x1", "y1"]))
        df = con.execute(
            "SELECT i, j FROM pts JOIN rects ON lon >= x0 AND lon < x1 "
            "AND lat >= y0 AND lat < y1"
        ).fetchdf()
    finally:
        con.close()
    pi.append(df["i"].to_numpy(np.int64))
    pj.append(df["j"].to_numpy(np.int64))
    return np.concatenate(pi), np.concatenate(pj)


def knn_numpy(lon, lat, clon, clat, cads, k: int, chunk: int = 2048):
    """Exact top-k by (dist, cad_number) for every point: (idx, rank-1
    centroid index, dist) arrays.  dist uses the engine's op order
    sqrt(dx*dx + dy*dy)."""
    cad_rank = np.argsort(np.argsort(np.asarray(cads, dtype=object), kind="stable"), kind="stable")
    out_i, out_j, out_d = [], [], []
    for s in range(0, len(lon), chunk):
        dx = lon[s:s + chunk, None] - clon[None, :]
        dy = lat[s:s + chunk, None] - clat[None, :]
        d = np.sqrt(dx * dx + dy * dy)
        # lexsort by (dist, cad rank) among a generous prefix
        part = np.argpartition(d, k + 4, axis=1)[:, : k + 5]
        pd_ = np.take_along_axis(d, part, axis=1)
        key = np.lexsort((cad_rank[part], pd_), axis=1)[:, :k]
        top = np.take_along_axis(part, key, axis=1)
        rows = np.arange(len(dx))[:, None].repeat(k, axis=1)
        out_i.append((rows + s).ravel())
        out_j.append(top.ravel())
        out_d.append(np.take_along_axis(d, top, axis=1).ravel())
    return np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_d)


def knn_duckdb(lon, lat, clon, clat, cads, k: int, sample: np.ndarray):
    """The kNN cross-join as SQL over a sample of points: set of
    (point index, cad_number, rank, dist)."""
    con = duckdb.connect()
    try:
        con.register("p", pd.DataFrame({"i": sample, "lon": lon[sample], "lat": lat[sample]}))
        con.register("c", pd.DataFrame({"cad": list(cads), "clon": clon, "clat": clat}))
        rows = con.execute(
            f"""SELECT i, cad, rnk, dist FROM (
                  SELECT i, cad, dist, row_number() OVER (PARTITION BY i ORDER BY dist, cad) AS rnk
                  FROM (SELECT i, cad, sqrt((lon - clon) * (lon - clon) + (lat - clat) * (lat - clat))
                          AS dist FROM p CROSS JOIN c))
                WHERE rnk <= {k}"""
        ).fetchall()
    finally:
        con.close()
    return {(int(i), c, int(r), float(d)) for i, c, r, d in rows}


def dist_key(d) -> int:
    """Integer rendering of a distance/score shared by both digests."""
    return int(np.floor(np.float64(d) * 1e12))


def shingles(text: str, k: int = 3) -> set[str]:
    w = text.lower().split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def jaccard_pairs(sets: list[set], threshold: float) -> list[tuple[int, int, float]]:
    """Every pair (a < b) with Jaccard >= ``threshold``, exact: shared
    shingles are counted over an inverted index, so pairs sharing none
    (Jaccard 0) are never visited."""
    postings: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for sh in s:
            postings.setdefault(sh, []).append(i)
    shared: Counter = Counter()
    for ids in postings.values():
        if len(ids) > 1:
            shared.update(itertools.combinations(ids, 2))
    out = []
    for (a, b), c in shared.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= threshold:
            out.append((a, b, j))
    return sorted(out)


def quantized(vec) -> np.ndarray:
    """round(x * 1000) with Spark's HALF_UP rounding, as doubles."""
    x = np.asarray(vec, dtype=np.float32).astype(np.float64) * 1000.0
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def sign_lsh_topk(vecs: np.ndarray, q_ids, k: int, n_planes: int, seed: int) -> list[tuple]:
    """Multi-probe sign-LSH top-k, recomputed from its definition: the
    hyperplanes are ``n_planes`` standard normal rows drawn from
    ``default_rng(seed)``; bit i of a signature is <vec, plane_i> > 0,
    summed in dimension order as doubles; a query's candidates are the
    other vectors whose signature equals its own or differs in one bit;
    they rank by cosine of the quantized vectors (exact integer dot
    products and norms, one division and one sqrt) descending, then id.
    Rows (query, candidate, rank, cosine)."""
    x = np.asarray(vecs, dtype=np.float32).astype(np.float64)
    planes = np.random.default_rng(seed).standard_normal((n_planes, x.shape[1]))
    sig = np.zeros(len(x), np.int64)
    for i, p in enumerate(planes):
        proj = np.zeros(len(x))
        for d in range(x.shape[1]):
            proj = proj + x[:, d] * p[d]
        sig |= (proj > 0).astype(np.int64) << i
    buckets: dict[int, list[int]] = {}
    for i, s in enumerate(sig.tolist()):
        buckets.setdefault(s, []).append(i)
    q = quantized(x)
    norm = (q * q).sum(axis=1)
    rows = []
    for qi in np.asarray(q_ids).tolist():
        probes = [sig[qi]] + [sig[qi] ^ (1 << b) for b in range(n_planes)]
        cand = np.array(sorted(c for p in probes for c in buckets.get(int(p), ()) if c != qi),
                        dtype=np.int64)
        if not len(cand):
            continue
        cos = (q[cand] @ q[qi]) / np.sqrt(norm[cand] * norm[qi])
        for r, o in enumerate(np.lexsort((cand, -cos))[:k]):
            rows.append((qi, int(cand[o]), r + 1, float(cos[o])))
    return rows
