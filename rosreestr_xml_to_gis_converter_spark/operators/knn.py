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
  of distributed kNN joins, cf. PAPERS.md).  For a dimension-sized layer
  (the whole-layer gate, see :func:`knn_grid`) the layer is collected
  once, its per-cell candidate lists are built in numpy and broadcast,
  and one ``mapInArrow`` stage ranks every image batch with the numpy
  top-k below; an image whose disk holds fewer than k centroids ranks
  the whole layer.  Huge layers stay JVM-side: a broadcast per-cell
  candidate map plus a bounded escalation ladder.
* ``knn_literal`` — a centroid list given in Python becomes the broadcast
  layer directly, and every image ranks the whole layer with the same
  numpy top-k.

The numpy top-k computes ``sqrt(dx*dx + dy*dy)`` with the same IEEE
double operations in the same order as the Column expression, so
distances are bit-identical to the relational paths, and orders
candidates by ``(dist, cad_number)`` through one ``lexsort``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rosreestr_xml_to_gis_converter_spark.index.grid import (
    _IDX_MASK,
    _IX_SHIFT,
    _RES_SHIFT,
    cell_col,
    cell_id,
    cell_ij,
    cell_list_spans,
    cell_lists,
    expand_spans,
    latlng_to_cell,
)
from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import (
    _PAIRS_PER_PASS,
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
    # no cell column: a null cell matches no candidate list, so every row
    # ranks the whole layer
    pts = with_geotag(images, box).select(
        "image_id", "lon", "lat", F.lit(None).cast("long").alias("cell")
    )
    return _numpy_topk(pts, layer, k)


# Worst-case euclidean ground distance (in LAT-cell units) covered by one
# Chebyshev cell ring: the grid splits 360 deg of lon and 180 deg of lat
# into the same 2^res cells, so a lon cell is 2 lat-cells wide and a point
# within Chebyshev distance d of a cell is at most (d+1)*sqrt(wx^2+wy^2)
# = (d+1)*wy*sqrt(5) degrees away (wx = 2*wy).
_CELL_ASPECT_DIAG = math.sqrt(5.0)


def _exact_disk(d: int) -> int:
    """Smallest Chebyshev cell radius guaranteed to hold every TRUE kNN
    candidate once >= k centroids are known within Chebyshev radius ``d``
    of the image's cell: the kth distance is then at most
    (d+1)*wy*sqrt(5), and any centroid that close sits within
    ceil((d+1)*sqrt(5)) + 1 cells on the narrow (lat) axis — the wide
    (lon) axis needs fewer, the square disk is a superset."""
    return int(math.ceil((d + 1) * _CELL_ASPECT_DIAG)) + 1


def knn_grid(
    images: DataFrame,
    centroids: DataFrame,
    box: GeoBox,
    k: int,
    res: int,
    disk: int,
    escalate: tuple[int, ...] | None = None,
    layer_fallback: bool | None = None,
    layer_fallback_max_rows: int = 1_000_000,
) -> DataFrame:
    """Grid-bounded kNN: candidates limited to centroids whose cell is
    within Chebyshev distance ``disk`` of the image's cell at ``res``.

    Exact iff every image's true k nearest centroids fall inside that
    disk; pick ``res``/``disk`` so the disk's ground extent exceeds the
    worst-case kNN radius of the layer (asserted in tests).  The image
    side is scanned once and never shuffled or exploded; only the small
    centroid side is replicated over the disk's (2*disk+1)^2 cells.

    Top-k is computed per input ROW: duplicate ``image_id`` rows each
    emit their own k rows.  Callers joining from tables with repeated
    keys (e.g. images derived from lineitem, whose (orderkey,
    linenumber) pairs repeat) must ``dropDuplicates`` first, as the
    gate queries do; deduping here would shuffle the big side on every
    call.

    **Whole-layer gate open** (dimension-sized layers): ``layer_fallback
    =True``, or ``None`` (auto) when the layer has at most
    ``layer_fallback_max_rows`` rows.  The auto gate collects at most
    ``layer_fallback_max_rows + 1`` centroid rows as Arrow and decides
    from what came back; that one collect also feeds the ranking, so no
    separate sizing job runs.  The layer is ordered by ``cad_number``,
    its per-cell candidate lists are built in numpy and broadcast, and a
    single ``mapInArrow`` stage ranks every image: against its cell's
    list when that holds at least k centroids, otherwise against the
    whole layer.  Output is exactly min(k, |centroids|) rows per input
    row.  An image with a null point ranks the whole layer with null
    ``dist``, i.e. in ``cad_number`` order.  ``escalate`` is ignored
    here: the whole layer already gives the true kNN of every short
    image.

    **Gate closed** (huge layers): a short image escalates through
    bounded iterative ring expansion, all JVM-side.  For each multiplier
    m in ``escalate`` (default ``(2, 4)``) a further broadcast map
    carries, for only the cells still short at the previous level, the
    candidates within the exact disk ``_exact_disk(disk*m)`` plus the
    count within ``disk*m``; the first level whose count reaches k
    supplies the candidate list, and because that list spans the
    conservative exact disk the result is the true kNN.  All levels are
    broadcast left-joins on the same cell key, so the image side is
    scanned once and never shuffles, and the escalation maps scale with
    the layer's sparse boundary, not with the layer.  An image still
    short at the largest level ranks the nearest escalated candidates it
    has and may emit fewer than k rows; pass ``()`` to disable the
    ladder.
    """
    pts = with_geotag(images, box).select("image_id", "lon", "lat")
    pts = pts.withColumn("cell", cell_col(F.col("lat"), F.col("lon"), res))
    layer = None
    if layer_fallback is not False:
        cen = centroids.select(
            "cad_number", F.col("clon").cast("double"), F.col("clat").cast("double")
        )
        if layer_fallback is None:
            cen = cen.limit(layer_fallback_max_rows + 1)
        layer = cen.toArrow()
        if layer_fallback is None and layer.num_rows > layer_fallback_max_rows:
            layer = None
    if layer is not None:
        return _numpy_topk(pts, layer, k, res, disk)
    return _knn_ladder(pts, centroids, k, res, disk, (2, 4) if escalate is None else escalate)


def _exploded_cells(centroids: DataFrame, res: int, outer: int) -> DataFrame:
    """grid_disk as relational algebra: each centroid exploded over the
    (2*outer+1)^2 neighbor offsets -> one row per (covered cell,
    centroid), with ``_dx``/``_dy`` kept for inner-ring tests.  Decompose
    the centroid cell, shift, bounds-clamp, re-pack — all Column
    arithmetic, offsets from ``sequence()`` (no literal-array blowup at
    large disks).  The ONE place the cell bit-packing formula lives on
    the centroid side: both the candidates maps and the counts-only
    frontier filter aggregate this lineage, so their join keys can never
    drift apart."""
    n_minus_1 = (1 << res) - 1
    return (
        centroids.withColumn("_c", cell_col(F.col("clat"), F.col("clon"), res))
        .withColumn("_ix", F.shiftright(F.col("_c"), _IX_SHIFT).bitwiseAND(F.lit(_IDX_MASK)))
        .withColumn("_iy", F.col("_c").bitwiseAND(F.lit(_IDX_MASK)))
        .withColumn("_dx", F.explode(F.sequence(F.lit(-outer), F.lit(outer))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-outer), F.lit(outer))))
        .withColumn("_nx", F.col("_ix") + F.col("_dx"))
        .withColumn("_ny", F.col("_iy") + F.col("_dy"))
        .filter(
            (F.col("_nx") >= 0)
            & (F.col("_nx") <= n_minus_1)
            & (F.col("_ny") >= 0)
            & (F.col("_ny") <= n_minus_1)
        )
        .withColumn(
            "cell",
            F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
            + F.col("_nx") * F.lit(1 << _IX_SHIFT).cast("long")
            + F.col("_ny"),
        )
    )


def _cen_cells(centroids: DataFrame, res: int, outer: int, inner: int) -> DataFrame:
    """Centroids exploded over the (2*outer+1)^2 neighbor offsets ->
    one row per covered cell: ``_cands`` (all candidates within Chebyshev
    ``outer``) + ``_cnt`` (how many lie within ``inner``)."""
    cen = _exploded_cells(centroids, res, outer).withColumn(
        "_in",
        ((F.abs(F.col("_dx")) <= inner) & (F.abs(F.col("_dy")) <= inner)).cast("int"),
    )
    return cen.groupBy("cell").agg(
        F.collect_list(F.struct("clon", "clat", "cad_number")).alias("_cands"),
        F.sum("_in").alias("_cnt"),
    )


def _cen_counts(centroids: DataFrame, res: int, d: int) -> DataFrame:
    """Counts-only twin of :func:`_cen_cells`: cell -> number of
    centroids within Chebyshev ``d``.  Used as the next escalation
    level's frontier filter — Spark does not reuse the full map's
    aggregation across subplans (measured: zero ReusedExchange), so a
    dedicated counts lineage keeps each heavy collect_list map computed
    exactly once and the filter side list-free."""
    return (
        _exploded_cells(centroids, res, d)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_pc"))
    )


def _knn_ladder(
    pts: DataFrame,
    centroids: DataFrame,
    k: int,
    res: int,
    disk: int,
    escalate: tuple[int, ...],
) -> DataFrame:
    """The gate-closed realization of :func:`knn_grid`, all JVM-side."""
    # every candidate of an image comes from the one broadcast-join row
    # that matched its cell, so the small side is pre-aggregated per cell
    # (still broadcast-sized), the join is 1:1, and top-k is an array
    # expression: the big side never shuffles
    levels = [_cen_cells(centroids, res, disk, disk)]
    prev_d = disk
    for mult in escalate:
        d_i = disk * mult
        mi_full = _cen_cells(centroids, res, _exact_disk(d_i), d_i)
        # keep only cells the PREVIOUS level left short: the escalation
        # maps' size tracks the sparse boundary, not the whole layer.
        # The filter reads a counts-only map (not the previous full map,
        # which Spark would recompute — no cross-subplan reuse).
        prev_cnt = _cen_counts(centroids, res, prev_d)
        levels.append(
            mi_full.join(prev_cnt, "cell", "left")
            .filter(F.coalesce(F.col("_pc"), F.lit(0)) < k)
            .select("cell", "_cands", "_cnt")
        )
        prev_d = d_i
    # All levels join the image side as broadcast LEFT joins on the same
    # cell key — SINGLE-PASS: no union of covered/frontier branches (that
    # would rescan the image table once per level), no shuffle of the
    # big side; codegen evaluates each level's array lazily, so covered
    # rows never touch the escalation columns.
    joined = pts
    for i, mi in enumerate(levels):
        joined = joined.join(
            F.broadcast(
                mi.select(
                    "cell",
                    F.col("_cands").alias(f"_cands{i}"),
                    F.col("_cnt").alias(f"_cnt{i}"),
                )
            ),
            "cell",
            "left",
        )
    # a row short at every level ranks the nearest escalated candidates
    # it has (documented: may yield < k rows)
    cands = F.coalesce(*[F.col(f"_cands{i}") for i in reversed(range(len(levels)))])
    for i in reversed(range(len(levels))):
        cands = F.when(
            F.coalesce(F.col(f"_cnt{i}"), F.lit(0)) >= k, F.col(f"_cands{i}")
        ).otherwise(cands)
    scored = F.transform(
        cands,
        lambda c: F.struct(
            _dist(F.col("lon"), F.col("lat"), c["clon"], c["clat"]).alias("dist"),
            c["cad_number"].alias("cad_number"),
        ),
    )
    # lexicographic struct sort == (dist ASC, cad_number ASC) tie-breaking,
    # identical to the other realizations
    top = F.slice(F.array_sort(scored), 1, k)
    return joined.select("image_id", F.posexplode(top).alias("pos", "t")).select(
        "image_id",
        F.col("t.cad_number").alias("cad_number"),
        (F.col("pos") + 1).alias("rank"),
        F.col("t.dist").alias("dist"),
    )


# ---------------------------------------------------------------------------
# numpy top-k over Arrow batches (whole-layer gate open, and knn_literal)
# ---------------------------------------------------------------------------

_OUT_SCHEMA = "image_id string, cad_number string, rank int, dist double"


def _layer_table(layer, res: int | None, disk: int) -> tuple:
    """Driver side of the numpy top-k: the layer ordered by ``cad_number``
    (row ``i`` has rank ``_ord = i``) and its per-cell candidate lists.

    Returns ``(clon, clat, cnull, cads, keys, offsets, pool)``, a
    :func:`cell_lists` index: cell ``keys[i]`` holds the ``_ord`` of every
    centroid within Chebyshev ``disk`` of it, ascending, in
    ``pool[offsets[i]:offsets[i + 1]]`` — the numpy twin of
    :func:`_cen_cells`, with ``latlng_to_cell`` bit-identical to
    ``cell_col``.  ``pool[offsets[-1]:]`` is the whole layer.
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


def _topk_batches(layer_bc, k: int):
    """Worker side: per Arrow batch of ``(image_id, lon, lat, cell)``,
    look each row's cell up in the broadcast lists (``cell_list_spans``),
    expand the ragged candidate lists (``expand_spans``), compute the
    distances, sort with ``lexsort((_ord, dist, row))`` and keep the
    first k per row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def topk(batches):
        clon, clat, cnull, cads, keys, offsets, pool = layer_bc.value
        for batch in batches:
            lon, lat = batch.column("lon"), batch.column("lat")
            rnull = pc.or_(pc.is_null(lon), pc.is_null(lat)).to_numpy(zero_copy_only=False)
            lon = lon.to_numpy(zero_copy_only=False)
            lat = lat.to_numpy(zero_copy_only=False)
            cell = pc.fill_null(batch.column("cell"), -1).to_numpy()
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
                o = np.lexsort((ords, np.where(dnull, -np.inf, dist), row))
                # rows stay contiguous and in place under the sort (row is
                # its primary key), so ``local`` is each sorted pair's rank
                sel = local < k
                top = o[sel]
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column("image_id").take(row[top]),
                        cads.take(ords[top]),
                        pa.array(local[sel] + 1, pa.int32()),
                        pa.array(dist[top], mask=dnull[top]),
                    ],
                    names=["image_id", "cad_number", "rank", "dist"],
                )

    return topk


def _numpy_topk(
    pts: DataFrame, layer, k: int, res: int | None = None, disk: int = 0
) -> DataFrame:
    """Rank ``pts`` (image_id, lon, lat, cell) against the Arrow ``layer``
    (cad_number, clon, clat) in one ``mapInArrow`` stage; the layer table
    travels to the workers as one broadcast."""
    bc = pts.sparkSession.sparkContext.broadcast(_layer_table(layer, res, disk))
    return pts.select("image_id", "lon", "lat", "cell").mapInArrow(
        _topk_batches(bc, k), schema=_OUT_SCHEMA
    )
