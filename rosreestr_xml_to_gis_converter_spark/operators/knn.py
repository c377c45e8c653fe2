"""kNN-to-nearest-parcel (the no-match fallback of the spatial join).

Images whose point lies in no parcel polygon are assigned their k nearest
parcels (by centroid distance, planar).  Ranking is deterministic: ties
are broken by ``cad_number``.  Three entry points:

* ``knn_bruteforce`` — broadcast cross-join + per-image ranking
  aggregate, all relational; the baseline the other paths are tested
  against.
* ``knn_grid`` — the scale path: encode both sides at a coarse
  resolution and rank, per image, only the centroids within a bounded
  ``grid_disk`` of its cell (the grid-candidate / per-point top-k split
  of distributed kNN joins, cf. PAPERS.md).  The layer is collected
  once, its per-cell candidate lists are built in numpy and broadcast,
  and one ``mapInArrow`` stage ranks every image batch with the numpy
  top-k below; an image whose disk holds fewer than k centroids ranks
  the whole layer.
* ``knn_literal`` — a centroid list given in Python becomes the broadcast
  layer directly, and every image ranks the whole layer with the same
  numpy top-k.

The numpy top-k reads ``(image_id, phash)`` and derives each image's
point and cell in the kernel, bit-identical to ``with_geotag`` +
``cell_col`` (which ``knn_bruteforce`` keeps; the SQL oracles use
``cell_sql``).  It
computes ``sqrt(dx*dx + dy*dy)`` with the same IEEE double operations in
the same order as the Column expression, so distances are bit-identical
to the relational paths, and picks each image's first k candidates by
``(dist, cad_number)`` with a segmented selection (:func:`_segment_topk`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rosreestr_xml_to_gis_converter_spark.index.grid import (
    cell_id,
    cell_ij,
    cell_list_spans,
    cell_lists,
    expand_spans,
    latlng_to_cell,
)
from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import (
    BROADCAST_COVER_MAX_BYTES,
    _PAIRS_PER_PASS,
    _batch_points,
    with_geotag,
)
from rosreestr_xml_to_gis_converter_spark.synth import GeoBox


def _dist(lon: Column, lat: Column, clon: Column, clat: Column) -> Column:
    dx = lon - clon
    dy = lat - clat
    return F.sqrt(dx * dx + dy * dy)


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Per-image top-k by (dist, cad_number).

    Hash aggregation (collect_list -> array_sort -> slice) instead of a
    row_number window: candidates per image are bounded (by the disk or
    the centroid count), so the aggregate gets map-side partial combine
    and avoids the window's full sort of every candidate row — the
    dominant cost at 10^12-image scale.
    """
    item = F.struct(F.col("dist").alias("dist"), F.col("cad_number").alias("cad_number"))
    agg = cand.groupBy("image_id").agg(
        F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("top")
    )
    return agg.select(
        "image_id", F.posexplode("top").alias("pos", "t")
    ).select(
        "image_id",
        F.col("t.cad_number").alias("cad_number"),
        (F.col("pos") + 1).alias("rank"),
        F.col("t.dist").alias("dist"),
    )


def knn_bruteforce(
    images: DataFrame, centroids: DataFrame, box: GeoBox, k: int
) -> DataFrame:
    """Exact kNN via broadcast nested-loop (small centroid side).

    ``centroids``: (cad_number, clon, clat).
    """
    pts = with_geotag(images, box).select("image_id", "lon", "lat")
    cand = pts.crossJoin(F.broadcast(centroids)).withColumn(
        "dist", _dist(F.col("lon"), F.col("lat"), F.col("clon"), F.col("clat"))
    )
    return _rank_topk(cand, k)


def knn_literal(
    images: DataFrame,
    centroids: list[tuple[str, float, float]],
    box: GeoBox,
    k: int,
) -> DataFrame:
    """Zero-shuffle kNN for a small centroid set given as a Python list
    of ``(cad_number, clon, clat)`` (the parcel-layer-as-dimension case).

    The list becomes the broadcast layer table directly — no Spark job
    collects it — and every image row ranks the whole layer in one
    ``mapInArrow`` stage, with the same numpy top-k and tie-breaking as
    :func:`knn_grid`.  Use ``knn_grid`` when the centroid side is too
    large to rank per image.
    """
    import pyarrow as pa

    layer = pa.table(
        {
            "cad_number": pa.array([c[0] for c in centroids], pa.string()),
            "clon": pa.array([c[1] for c in centroids], pa.float64()),
            "clat": pa.array([c[2] for c in centroids], pa.float64()),
        }
    )
    # no resolution: every row's cell is -1, which matches no candidate
    # list, so every row ranks the whole layer
    return _numpy_topk(images, box, layer, k)


class LayerTooLargeError(ValueError):
    pass


# most broadcast bytes one layer row adds besides its cad_number: its two
# coordinates, null flag and whole-layer pool entry (25), plus, per cell
# of its (2*disk+1)^2 disk, one pool entry and at most one key and offset (24)
def _max_layer_rows(disk: int) -> int:
    return BROADCAST_COVER_MAX_BYTES // (25 + 24 * (2 * disk + 1) ** 2)


def knn_grid(
    images: DataFrame,
    centroids: DataFrame,
    box: GeoBox,
    k: int,
    res: int,
    disk: int,
    layer_fallback: bool | None = None,
) -> DataFrame:
    """Grid-bounded kNN: candidates limited to centroids whose cell is
    within Chebyshev distance ``disk`` of the image's cell at ``res``.

    Exact iff every image's true k nearest centroids fall inside that
    disk; pick ``res``/``disk`` so the disk's ground extent exceeds the
    worst-case kNN radius of the layer (asserted in tests).  An image
    whose disk holds fewer than k centroids ranks the whole layer, so it
    always gets its true kNN.  Output is exactly min(k, |centroids|) rows
    per input row; an image with a null point ranks the whole layer with
    null ``dist``, i.e. in ``cad_number`` order.

    Top-k is computed per input ROW: duplicate ``image_id`` rows each
    emit their own k rows.  Callers joining from tables with repeated
    keys (e.g. images derived from lineitem, whose (orderkey,
    linenumber) pairs repeat) must ``dropDuplicates`` first, as the
    gate queries do; deduping here would shuffle the big side on every
    call.

    The layer is collected once as Arrow and ordered by ``cad_number``;
    its per-cell candidate lists are built in numpy and broadcast, and a
    single ``mapInArrow`` stage ranks every image.  The image side is
    scanned once and never shuffled.  ``layer_fallback=True`` states that
    the layer is dimension-sized and collects it unguarded.  ``None``
    collects at most :func:`_max_layer_rows` rows, the most whose
    broadcast table fits ``BROADCAST_COVER_MAX_BYTES`` at this ``disk``,
    and raises :class:`LayerTooLargeError` when the layer is larger.
    ``False`` raises ``ValueError``.
    """
    if layer_fallback is False:
        raise ValueError(
            "layer_fallback=False selected the JVM escalation ladder, which was "
            "removed; knn_grid always ranks in the numpy top-k"
        )
    cen = centroids.select(
        "cad_number", F.col("clon").cast("double"), F.col("clat").cast("double")
    )
    if layer_fallback:
        layer = cen.toArrow()
    else:
        cap = _max_layer_rows(disk)
        layer = cen.limit(cap + 1).toArrow()
        if layer.num_rows > cap:
            raise LayerTooLargeError(
                f"centroid layer has more than {cap} rows, the most whose disk={disk} "
                f"candidate lists fit BROADCAST_COVER_MAX_BYTES={BROADCAST_COVER_MAX_BYTES}; "
                "pass layer_fallback=True if the layer is dimension-sized"
            )
    return _numpy_topk(images, box, layer, k, res, disk)


# ---------------------------------------------------------------------------
# numpy top-k over Arrow batches (knn_grid and knn_literal)
# ---------------------------------------------------------------------------

_OUT_SCHEMA = "image_id string, cad_number string, rank int, dist double"


def _layer_table(layer, res: int | None, disk: int) -> tuple:
    """Driver side of the numpy top-k: the layer ordered by ``cad_number``
    (row ``i`` has rank ``_ord = i``) and its per-cell candidate lists.

    Returns ``(clon, clat, cnull, cads, keys, offsets, pool)``, a
    :func:`cell_lists` index: cell ``keys[i]`` holds the ``_ord`` of every
    centroid within Chebyshev ``disk`` of it, ascending, in
    ``pool[offsets[i]:offsets[i + 1]]``, keyed by the same
    ``latlng_to_cell`` that encodes the images in the kernel.
    ``pool[offsets[-1]:]`` is the whole layer.
    ``res=None`` builds no cell lists.
    """
    import pyarrow.compute as pc

    layer = layer.take(
        pc.sort_indices(layer, [("cad_number", "ascending")], null_placement="at_start")
    )
    clon = layer.column("clon").to_numpy()
    clat = layer.column("clat").to_numpy()
    # a null coordinate gives a null dist, which Spark orders first
    cnull = np.isnan(clon) | np.isnan(clat)
    cells = cand = np.empty(0, dtype=np.int64)
    if res is not None:
        ords = np.flatnonzero(~cnull)
        ix, iy = cell_ij(latlng_to_cell(clat[ords], clon[ords], res))
        off = np.arange(-disk, disk + 1)
        dx, dy = (d.ravel() for d in np.meshgrid(off, off))
        nx, ny = ix[:, None] + dx, iy[:, None] + dy
        ok = (nx >= 0) & (nx < 1 << res) & (ny >= 0) & (ny < 1 << res)
        cells = cell_id(nx[ok], ny[ok], res)
        cand = np.broadcast_to(ords[:, None], ok.shape)[ok]
    keys, offsets, (cand,) = cell_lists(cells, cand)
    pool = np.concatenate([cand, np.arange(len(clon))])
    cads = layer.column("cad_number").combine_chunks()
    return clon, clat, cnull, cads, keys, offsets, pool


def _segment_topk(key: np.ndarray, starts: np.ndarray, k: int) -> tuple:
    """Positions and 1-based ranks of the k smallest keys in each segment
    ``key[starts[i]:starts[i + 1]]`` (``starts`` ascending, the last
    segment running to the end), segment by segment; equal keys go to the
    first position.  A segment shorter than k emits all of its entries.

    One ``fmin.reduceat`` pass per rank: the pass picks each segment's
    first minimum and marks it taken (NaN, which ``fmin`` skips)."""
    key = np.array(key, dtype=np.float64)
    size = np.diff(np.append(starts, len(key)))
    seg = np.repeat(np.arange(len(starts)), size)
    top = np.full((len(starts), min(k, size.max(initial=0))), -1, dtype=np.int64)
    for r in range(top.shape[1]):
        hit = np.flatnonzero(key == np.fmin.reduceat(key, starts)[seg])
        first = hit[np.diff(seg[hit], prepend=-1) != 0]
        top[seg[first], r] = first
        key[first] = np.nan
    rank = np.broadcast_to(np.arange(1, top.shape[1] + 1, dtype=np.int32), top.shape)
    sel = top >= 0
    return top[sel], rank[sel]


def _topk_batches(layer_bc, box: GeoBox, res: int | None, k: int):
    """Worker side: per Arrow batch of ``(image_id, phash)``, derive each
    row's point and cell (``_batch_points``), look the cell up in the
    broadcast lists (``cell_list_spans``), expand the ragged candidate
    lists (``expand_spans``; ``local == 0`` starts a row's segment),
    compute the distances and keep each row's first k by ``(dist,
    _ord)`` (:func:`_segment_topk`: every list is ascending in ``_ord``,
    so the first of equal distances has the smallest ordinal)."""
    import pyarrow as pa

    def topk(batches):
        clon, clat, cnull, cads, keys, offsets, pool = layer_bc.value
        for batch in batches:
            lon, lat, cell, rnull = _batch_points(batch.column("phash"), box, res)
            start, cnt = cell_list_spans(keys, offsets, cell)
            short = cnt < k
            start = np.where(short, offsets[-1], start)
            cnt = np.where(short, len(clon), cnt)
            for row, local, idx in expand_spans(start, cnt, _PAIRS_PER_PASS):
                ords = pool[idx]
                dx = lon[row] - clon[ords]
                dy = lat[row] - clat[ords]
                dist = np.sqrt(dx * dx + dy * dy)
                dnull = rnull[row] | cnull[ords]
                top, rank = _segment_topk(
                    np.where(dnull, -np.inf, dist), np.flatnonzero(local == 0), k
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column("image_id").take(row[top]),
                        cads.take(ords[top]),
                        pa.array(rank),
                        pa.array(dist[top], mask=dnull[top]),
                    ],
                    names=["image_id", "cad_number", "rank", "dist"],
                )

    return topk


def _numpy_topk(
    images: DataFrame, box: GeoBox, layer, k: int, res: int | None = None, disk: int = 0
) -> DataFrame:
    """Rank ``images`` against the Arrow ``layer`` (cad_number, clon,
    clat) in one ``mapInArrow`` stage over ``(image_id, phash)``, each
    point geotagged through ``box`` and cell-encoded at ``res`` in the
    kernel; the layer table travels to the workers as one broadcast."""
    bc = images.sparkSession.sparkContext.broadcast(_layer_table(layer, res, disk))
    return images.select("image_id", "phash").mapInArrow(
        _topk_batches(bc, box, res, k), schema=_OUT_SCHEMA
    )
