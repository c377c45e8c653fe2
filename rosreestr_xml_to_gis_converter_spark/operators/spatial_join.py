"""Flagship operator: images x parcels spatial join.

Generalizes the reference's geometry-attributes denormalization join
(/root/reference/main.py:379-412 repeats the full attribute record per
contour) to web scale, as a point-side broadcast join:

    images (10^12 rows, input_hint shape)
      |  one mapInArrow stage over (image_id, phash), each row crossing once:
      |    derive (lon, lat) from phash and cell-encode it in numpy
      |    look its cell up in the broadcast cover index (PreparedCover)
      |    full entries (cell inside the polygon) -> emit
      |    boundary entries -> numpy edge-table point-in-polygon test
      v
    (image_id, cad_number, cell)

Scale properties:
* The image side is scanned once and never shuffled (bar the size-gated
  spread of a starved scan).  Candidate (image, parcel) pairs exist only
  as numpy index arrays inside the Arrow stage, a bounded number per pass.
* The parcel layer reaches the workers once, as one broadcast table: its
  sorted ``cad_number``s, a CSR index from cover cell to ``(parcel
  ordinal, full)`` entries and the boundary edge table.  A size guard
  bounds it; a larger layer takes the shuffled path.
* The point derivation (``GeoBox.lon_np``/``lat_np``, ``latlng_to_cell``)
  runs in the kernel, bit-identical to ``with_geotag`` + ``cell_col``, so
  only ``image_id`` and ``phash`` cross into Python.
* The shuffled path (``broadcast_cover=False``) is one Catalyst equi-join
  on ``cell``, encoded in Column arithmetic because the JVM join needs
  it, with AQE skew handling and optional salting.  Every joined row
  crosses one Arrow stage: full rows pass, boundary rows carry their
  packed geometry (WKB-analog) into the point-in-polygon test.  The image
  side is scanned and shuffled once.  A coarse parent-cell column
  (``cell_parent_col``) is its intended storage partition key, so
  parquet/Iceberg stats prune the equi-join.
"""

from __future__ import annotations

import warnings
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rosreestr_xml_to_gis_converter_spark.functions.geometry import (
    edge_table,
    pack_rings,
    points_in_polygons,
    unpack_rings,
)
from rosreestr_xml_to_gis_converter_spark.index.grid import (
    cell_col,
    cell_list_spans,
    cell_lists,
    expand_spans,
    latlng_to_cell,
    polygon_to_cells,
)
from rosreestr_xml_to_gis_converter_spark.synth import GeoBox

COVER_SCHEMA = "cell long, cad_number string, full boolean, geom binary"


def _cover_rows(cad: str, rings: Sequence[np.ndarray], res: int):
    cells, full = polygon_to_cells(rings, res)
    packed = pack_rings(rings)
    for c, f in zip(cells.tolist(), full.tolist()):
        yield (c, cad, f, None if f else packed)


def build_parcel_cover(
    spark: SparkSession,
    contours: DataFrame | Sequence[tuple[str, list[np.ndarray]]],
    res: int,
) -> DataFrame:
    """Parcel contours -> cell cover table ``(cell, cad_number, full, geom)``.

    ``full`` cells lie entirely inside the polygon (no exact test needed);
    ``geom`` (packed rings) is non-null only on boundary cells.  Accepts a
    contours DataFrame ``(geom_key, doc_id, geom binary)`` — covered via
    ``mapInPandas`` so million-parcel layers distribute — or a small
    driver-side ``(cad, rings)`` list for tests.
    """
    cov: DataFrame
    if isinstance(contours, DataFrame):

        def cover_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for cad, geom in zip(pdf["geom_key"], pdf["geom"]):
                    rows.extend(_cover_rows(cad, unpack_rings(geom), res))
                yield pd.DataFrame(rows, columns=["cell", "cad_number", "full", "geom"])

        cov = contours.mapInPandas(cover_batches, schema=COVER_SCHEMA)
    else:
        rows = [r for cad, rings in contours for r in _cover_rows(cad, rings, res)]
        cov = spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell", "cad_number", "full", "geom"]),
            schema=COVER_SCHEMA,
        )
    return cov.withMetadata("cell", {"res": res})


# Bytes above which the cover is NOT pinned on the workers: the broadcast
# table passes through driver memory, so an unguarded 10^7-parcel layer
# would OOM the driver.  256 MB is comfortably inside a default driver
# heap while covering any dimension-sized parcel layer.
BROADCAST_COVER_MAX_BYTES = 256 << 20

# most broadcast bytes one cover row adds besides its cad_number: cell key
# and offset (16), ordinal and full flag (5), edge start and string offset (12)
_INDEX_ROW_BYTES = 33


class CoverTooLargeError(ValueError):
    pass


def _broadcast_bytes(cover: DataFrame, max_bytes: int) -> int:
    """Upper bound on what :class:`PreparedCover` broadcasts, measured
    BEFORE any driver-side collect: every cover row's index entry and
    ``cad_number``, plus each distinct boundary geometry's edge table (at
    most twice its packed bytes: 32 per edge, 16 per vertex).  The
    shuffle-free first tier counts geometry once per boundary cell (an
    overcount); only when that trips does the exact per-parcel distinct
    sum (one shuffle) decide."""
    row = cover.agg(
        F.count(F.lit(1)) * _INDEX_ROW_BYTES
        + F.coalesce(F.sum(F.length("cad_number")), F.lit(0)),
        F.coalesce(F.sum(F.length("geom")), F.lit(0)),
    ).first()
    index, total = int(row[0]), int(row[0]) + 2 * int(row[1])
    if total <= max_bytes:
        return total
    geom = (
        cover.filter(~F.col("full"))
        .select("cad_number", F.length("geom").alias("nb"))
        .distinct()
        .agg(F.coalesce(F.sum("nb"), F.lit(0)).alias("total"))
        .first()["total"]
    )
    return index + 2 * int(geom)


class PreparedCover:
    """Build-once join state for one parcel cover: one table built on the
    driver and broadcast once as ``geom_bc``, reused by every join against
    the layer.  ``geom_bc.value`` is ``(cads, keys, offsets, ords, full,
    edges, starts)``: the distinct ``cad_number``s, sorted, as an Arrow
    string array (a parcel's ordinal is its position); a ``cell_lists``
    index with one ``(ords, full)`` entry per cover row; and the boundary
    geometry as one ``edge_table`` whose polygon ``j`` is parcel ``j``.

    Raises :class:`CoverTooLargeError` when the table would exceed
    ``max_bytes`` (``spatial_join`` then falls back to the shuffled path),
    and ``ValueError`` when a ``cad_number`` has two boundary geometries.
    """

    def __init__(self, cover: DataFrame, max_bytes: int = BROADCAST_COVER_MAX_BYTES):
        import pyarrow.compute as pc

        self.res = _cover_res(cover)
        total = _broadcast_bytes(cover, max_bytes)
        if total > max_bytes:
            raise CoverTooLargeError(
                f"cover index and boundary geometry are {total} bytes > "
                f"max_bytes={max_bytes}; use spatial_join(..., broadcast_cover=False) "
                "(shuffled path) or raise max_bytes explicitly"
            )
        rows = cover.select("cell", "cad_number", "full").toArrow()
        geoms = cover.filter(~F.col("full")).select("cad_number", "geom").distinct().toArrow()
        cads = pc.unique(rows.column("cad_number"))
        cads = cads.take(pc.sort_indices(cads))
        gords = pc.index_in(geoms.column("cad_number"), value_set=cads).to_numpy()
        if len(np.unique(gords)) < len(gords):
            raise ValueError("cover holds more than one boundary geometry for a cad_number")
        polygons: list[list[np.ndarray]] = [[] for _ in range(len(cads))]
        for j, g in zip(gords.tolist(), geoms.column("geom").to_pylist()):
            polygons[j] = unpack_rings(g)
        keys, offsets, (ords, full) = cell_lists(
            rows.column("cell").to_numpy(),
            pc.index_in(rows.column("cad_number"), value_set=cads).to_numpy(),
            rows.column("full").to_numpy(),
        )
        self.geom_bc = cover.sparkSession.sparkContext.broadcast(
            (cads, keys, offsets, ords, full, *edge_table(polygons))
        )


def prepare_cover(cover: DataFrame, max_bytes: int = BROADCAST_COVER_MAX_BYTES) -> PreparedCover:
    return PreparedCover(cover, max_bytes=max_bytes)


def with_geotag(images: DataFrame, box: GeoBox) -> DataFrame:
    """Attach derived (lon, lat) as Column arithmetic, for the relational
    paths (the shuffled join, ``knn_bruteforce``); the broadcast kernels
    derive the same doubles in numpy (:func:`_batch_points`)."""
    return images.withColumn("lon", box.lon_col(F.col("phash"))).withColumn(
        "lat", box.lat_col(F.col("phash"))
    )


def _batch_points(phash, box: GeoBox, res: int | None) -> tuple:
    """Kernel-side geotag of an Arrow ``phash`` column: numpy ``(lon, lat,
    cell, null)``, bit-identical to :func:`with_geotag` + ``cell_col``.
    A null ``phash`` has ``null`` set and cell -1, which no cell list
    holds; ``res=None`` gives every row cell -1."""
    import pyarrow.compute as pc

    null = phash.is_null().to_numpy(zero_copy_only=False)
    ph = pc.fill_null(phash, 0).to_numpy()
    lon, lat = box.lon_np(ph), box.lat_np(ph)
    if res is None:
        return lon, lat, np.full(len(ph), -1, dtype=np.int64), null
    return lon, lat, np.where(null, -1, latlng_to_cell(lat, lon, res)), null


_JOIN_SCHEMA = "image_id string, cad_number string, cell long"

# candidate pairs expanded per numpy pass (point-side join and kNN top-k):
# bounds the temporaries when a batch's rows have long candidate lists
_PAIRS_PER_PASS = 1 << 20


def _point_join_batches(cover_bc, box: GeoBox, res: int, max_pairs: int):
    """Worker side of the point-side join, per Arrow batch of ``(image_id,
    phash)``: derive each row's point and cell (:func:`_batch_points`),
    expand its cell entries, about ``max_pairs`` per pass; keep full
    entries and test boundary ones with one :func:`points_in_polygons`
    call.  A null ``phash`` matches nothing, as in the equi-join; strings
    stay Arrow buffers (``take``)."""
    import pyarrow as pa

    def join(batches):
        cads, keys, offsets, ords, full, edges, starts = cover_bc.value
        for batch in batches:
            lon, lat, cell, _ = _batch_points(batch.column("phash"), box, res)
            start, cnt = cell_list_spans(keys, offsets, cell)
            for row, _, idx in expand_spans(start, cnt, max_pairs):
                ord_, keep = ords[idx], full[idx]
                bnd = np.flatnonzero(~keep)
                keep[bnd] = points_in_polygons(lon[row[bnd]], lat[row[bnd]], ord_[bnd], edges, starts)
                row = row[keep]
                yield pa.RecordBatch.from_arrays(
                    [batch.column("image_id").take(row), cads.take(ord_[keep]), pa.array(cell[row])],
                    names=["image_id", "cad_number", "cell"],
                )

    return join


def _refine_batches(batches):
    """Refine the shuffled join's candidate rows, whose geometry rides the
    rows (for layers too large to pin on the workers): full rows pass,
    boundary rows get the exact point-in-polygon test.

    The string/binary columns stay Arrow buffers end to end:
    ``dictionary_encode`` collapses the boundary rows' geom bytes to
    (indices, uniques) in native code, the batch's uniques become one edge
    table, and a single :func:`points_in_polygons` call tests every
    boundary row against its own polygon; the passthrough columns are
    filtered natively.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        if batch.num_rows == 0:
            continue
        keep = batch.column("full").to_numpy(zero_copy_only=False, writable=True)
        bnd = np.flatnonzero(~keep)
        gd = pc.dictionary_encode(batch.column("geom").take(bnd))
        edges, starts = edge_table([unpack_rings(g) for g in gd.dictionary.to_pylist()])
        keep[bnd] = points_in_polygons(
            batch.column("lon").to_numpy(zero_copy_only=False)[bnd],
            batch.column("lat").to_numpy(zero_copy_only=False)[bnd],
            gd.indices.to_numpy(zero_copy_only=False),
            edges,
            starts,
        )
        yield batch.select(["image_id", "cad_number", "cell"]).filter(pa.array(keep))


def spatial_join(
    images: DataFrame,
    cover: DataFrame | PreparedCover,
    box: GeoBox,
    broadcast_cover: bool = True,
    salt: int | None = None,
    broadcast_max_bytes: int = BROADCAST_COVER_MAX_BYTES,
) -> DataFrame:
    """images x parcel-cover -> ``(image_id, cad_number, cell)``, one row
    per image row and cover row of its cell whose parcel contains it.

    ``broadcast_cover=True`` (parcel layer << image table) or a
    :class:`PreparedCover`: the point-side join, each image row's
    ``(image_id, phash)`` crossing into one ``mapInArrow`` stage.  Pass a
    ``PreparedCover`` to amortize its build across joins; one built here
    is size-guarded, and over ``broadcast_max_bytes`` the join warns and
    takes the shuffled path.
    There is no join to salt, so ``salt > 1`` raises ``ValueError``.

    ``broadcast_cover=False``: a shuffled equi-join on ``cell`` with AQE
    skew handling; ``salt`` replicates the cover side ``salt`` ways for
    pathological hot cells.  Every joined row crosses one Arrow stage
    (:func:`_refine_batches`); full rows pass.
    """
    prepared = isinstance(cover, PreparedCover)
    salted = salt is not None and salt > 1
    if salted and (broadcast_cover or prepared):
        raise ValueError("salt applies only to the shuffled join: pass broadcast_cover=False")
    res = cover.res if prepared else _cover_res(cover)
    pc = cover if prepared else None
    if broadcast_cover and not prepared:
        try:
            pc = PreparedCover(cover, max_bytes=broadcast_max_bytes)
        except CoverTooLargeError as exc:
            warnings.warn(f"spatial_join: {exc}; falling back to shuffled join")
    if pc is not None:
        # input-skew guard: a low-row-group parquet concentrates the scan,
        # and the kernel fused behind it, on a few tasks; the size-gated
        # repartition on image_id spreads it (production-scale inputs are
        # left alone)
        from rosreestr_xml_to_gis_converter_spark.operators.dedupe import spread_input_by

        return spread_input_by(images, "image_id").select("image_id", "phash").mapInArrow(
            _point_join_batches(pc.geom_bc, box, res, _PAIRS_PER_PASS), schema=_JOIN_SCHEMA
        )
    pts = with_geotag(images, box).withColumn(
        "cell", cell_col(F.col("lat"), F.col("lon"), res=res)
    )
    cov = cover
    if salted:
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64("image_id"), F.lit(salt)))
        cov = cov.withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(salt)])))
        joined = pts.join(cov, ["cell", "_salt"], "inner").drop("_salt")
    else:
        joined = pts.join(cov, "cell", "inner")
    return joined.select("image_id", "cad_number", "cell", "full", "geom", "lon", "lat").mapInArrow(
        _refine_batches, schema=_JOIN_SCHEMA
    )


def _cover_res(cover: DataFrame) -> int:
    """The cover's resolution, which :func:`build_parcel_cover` embeds in
    the ``cell`` column metadata.  An expression over ``cell`` (``+ 0``,
    a cast) drops it; guessing would encode the images at the wrong
    resolution, so a missing ``res`` raises."""
    meta = cover.schema["cell"].metadata or {}
    if "res" not in meta:
        raise ValueError(
            "cover column 'cell' carries no 'res' metadata; build it with "
            "build_parcel_cover or restore it with withMetadata('cell', {'res': r})"
        )
    return int(meta["res"])
