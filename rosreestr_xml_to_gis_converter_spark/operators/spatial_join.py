"""Flagship operator: images x parcels spatial join.

Generalizes the reference's geometry-attributes denormalization join
(/root/reference/main.py:379-412 repeats the full attribute record per
contour) to web scale:

    images (10^12 rows, input_hint shape)
      |  derive (lon, lat) from phash          -- pure Column arithmetic
      |  cell-encode at res R                  -- pure Column arithmetic
      |  equi-join on cell with parcel cover   -- Catalyst BHJ/SMJ (+AQE)
      |  full-cell fast path: cell entirely inside polygon -> emit
      |  boundary cells: exact point-in-polygon -- one numpy edge-table
      |                                             kernel per Arrow batch
      v
    (image_id, cad_number, cell)

Scale properties:
* The big side is touched only by codegen'd expressions until after the
  join has already cut it down to candidates; Python sees only boundary
  candidates, in Arrow batches.
* Boundary geometry reaches the workers once, as a broadcast flat edge
  table (``PreparedCover``); a layer too large for that rides the join
  rows as a packed binary column (WKB-analog) instead.  Either way it
  exists only for boundary cover cells — the full-cell fast path (the
  bulk of a large parcel's area) never moves geometry or enters Python.
* The refine runs one vectorized point-in-polygon call per Arrow batch,
  each row against its own parcel's edges: its cost is linear in the
  boundary rows and their polygons' edge counts, whatever the number of
  distinct parcels in the batch.
* A coarse parent-cell column (``cell_parent_col``) is the intended
  storage partition key — the equi-join then prunes file groups from
  parquet/Iceberg stats without any custom planner rule.
* Skew (hot cadastral quarters): AQE skew-join is on by default; an
  explicit salting path is provided for the pathological case.
"""

from __future__ import annotations

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
from rosreestr_xml_to_gis_converter_spark.index.grid import cell_col, polygon_to_cells
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


# Boundary-geometry volume above which the cover is NOT pinned on the
# workers: the broadcast dict passes through driver memory, so an unguarded
# 10^7-parcel layer would OOM the driver.  256 MB is comfortably inside a
# default driver heap while covering any dimension-sized parcel layer.
BROADCAST_COVER_MAX_BYTES = 256 << 20


class CoverTooLargeError(ValueError):
    pass


def _boundary_geom_bytes(cover: DataFrame, max_bytes: int) -> int:
    """Distinct boundary-geometry bytes, measured BEFORE any driver-side
    collect so oversized layers never reach the driver.  Two-tier to
    keep the common case cheap:

    1. shuffle-free upper bound: sum of geometry lengths over ALL
       boundary rows (each parcel counted once per boundary cell — an
       overcount, i.e. safe).  Under the limit -> broadcast, zero extra
       shuffle paid.
    2. only when the bound trips: the exact per-parcel distinct sum
       (one shuffle) decides.
    """
    boundary = cover.filter(~F.col("full"))
    upper = boundary.agg(
        F.coalesce(F.sum(F.length("geom")), F.lit(0)).alias("total")
    ).first()["total"]
    if int(upper) <= max_bytes:
        return int(upper)
    row = (
        boundary.select("cad_number", F.length("geom").alias("nb"))
        .distinct()
        .agg(F.coalesce(F.sum("nb"), F.lit(0)).alias("total"))
        .first()
    )
    return int(row["total"])


class PreparedCover:
    """Build-once join state for a parcel cover: the slim broadcastable
    cover relation plus the boundary geometry as one flat edge table,
    built on the driver and broadcast once as ``geom_bc`` — a
    ``(pks, edges, starts)`` tuple where polygon ``j`` (edge columns
    ``starts[j]:starts[j + 1]``, see ``geometry.edge_table``) belongs to
    the parcel whose ``xxhash64(cad_number)`` is ``pks[j]``, and ``pks``
    is sorted.  Every later join against this layer reuses it.

    Raises :class:`CoverTooLargeError` when the distinct boundary geometry
    exceeds ``max_bytes`` — callers (``spatial_join``) fall back to the
    shuffled geometry-on-rows path instead of OOMing the driver.
    """

    def __init__(self, cover: DataFrame, max_bytes: int = BROADCAST_COVER_MAX_BYTES):
        spark = cover.sparkSession
        self.res = _cover_res(cover)
        total = _boundary_geom_bytes(cover, max_bytes)
        if total > max_bytes:
            raise CoverTooLargeError(
                f"boundary geometry is {total} bytes > max_bytes={max_bytes}; "
                "use spatial_join(..., broadcast_cover=False) (shuffled path) "
                "or raise max_bytes explicitly"
            )
        geom_rows = sorted(
            cover.filter(~F.col("full"))
            .select(F.xxhash64("cad_number").alias("pk"), "geom")
            .distinct()
            .collect(),
            key=lambda r: r.pk,
        )
        pks = np.array([r.pk for r in geom_rows], dtype=np.int64)
        edges, starts = edge_table([unpack_rings(r.geom) for r in geom_rows])
        self.geom_bc = spark.sparkContext.broadcast((pks, edges, starts))
        self.slim = cover.select("cell", "cad_number", "full")


def prepare_cover(cover: DataFrame, max_bytes: int = BROADCAST_COVER_MAX_BYTES) -> PreparedCover:
    return PreparedCover(cover, max_bytes=max_bytes)


def with_geotag(images: DataFrame, box: GeoBox) -> DataFrame:
    """Attach derived (lon, lat) — Column arithmetic only, codegen'd."""
    return images.withColumn("lon", box.lon_col(F.col("phash"))).withColumn(
        "lat", box.lat_col(F.col("phash"))
    )


_REFINE_SCHEMA = "image_id string, cad_number string, cell long"


def _refine_batches(batches):
    """Exact PIP on boundary candidates whose geometry rides the rows
    (the shuffled path, for layers too large to pin on the workers).

    The string/binary columns stay Arrow buffers end to end:
    ``dictionary_encode`` collapses the per-row geom bytes to (indices,
    uniques) in native code, the batch's uniques become one edge table,
    and a single :func:`points_in_polygons` call tests every row against
    its own polygon on zero-copy lon/lat numpy views; the passthrough
    columns are filtered natively.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        if batch.num_rows == 0:
            continue
        gd = pc.dictionary_encode(batch.column("geom"))
        edges, starts = edge_table([unpack_rings(g) for g in gd.dictionary.to_pylist()])
        keep = points_in_polygons(
            batch.column("lon").to_numpy(zero_copy_only=False),
            batch.column("lat").to_numpy(zero_copy_only=False),
            gd.indices.to_numpy(zero_copy_only=False),
            edges,
            starts,
        )
        yield batch.select(["image_id", "cad_number", "cell"]).filter(pa.array(keep))


def _refine_arrow_broadcast(geom_bc):
    """Exact PIP for the broadcast path.

    Boundary rows carry no geometry, only ``pk`` (xxhash64 of cad_number,
    computed JVM-side): a ``searchsorted`` into the broadcast table's
    sorted ``pks`` gives each row its polygon, and one
    :func:`points_in_polygons` call tests the whole batch.  ``mapInArrow``
    keeps the string columns (image_id, cad_number) as Arrow buffers that
    are filtered natively; only lon/lat/pk are touched, zero-copy to
    numpy.
    """
    import pyarrow as pa

    def refine(batches):
        pks, edges, starts = geom_bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            pk = batch.column("pk").to_numpy(zero_copy_only=False)
            keep = points_in_polygons(
                batch.column("lon").to_numpy(zero_copy_only=False),
                batch.column("lat").to_numpy(zero_copy_only=False),
                np.searchsorted(pks, pk),
                edges,
                starts,
            )
            yield batch.select(["image_id", "cad_number", "cell"]).filter(pa.array(keep))

    return refine


def spatial_join(
    images: DataFrame,
    cover: DataFrame | PreparedCover,
    box: GeoBox,
    broadcast_cover: bool = True,
    salt: int | None = None,
    broadcast_max_bytes: int = BROADCAST_COVER_MAX_BYTES,
) -> DataFrame:
    """images x parcel-cover -> exact containment rows.

    ``broadcast_cover=True`` for small/medium parcel layers (the common
    case: parcel layer << image table); otherwise a shuffled equi-join on
    ``cell`` with AQE skew handling.  The broadcast path is size-guarded:
    when the distinct boundary geometry exceeds ``broadcast_max_bytes``
    the join falls back to the shuffled geometry-on-rows path instead of
    collecting the layer through driver memory.  ``salt`` explicitly
    replicates the cover side ``salt`` ways for pathological hot cells.
    Pass a :class:`PreparedCover` to amortize the geometry broadcast
    across many joins against the same layer.
    """
    prepared = isinstance(cover, PreparedCover)
    res = cover.res if prepared else _cover_res(cover)
    # input-skew guard: a low-row-group parquet
    # concentrates the whole scan on a handful of tasks, throttling the
    # join+refine stage fused behind it; the size-gated hash repartition
    # on image_id spreads it across all cores and is skipped for
    # production-scale inputs (which have ample row groups already)
    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import spread_input_by

    images = spread_input_by(images, "image_id")
    pts = with_geotag(images, box).withColumn(
        "cell", cell_col(F.col("lat"), F.col("lon"), res=res)
    )
    use_arrow_refine = broadcast_cover or prepared
    pc: PreparedCover | None = None
    if use_arrow_refine and not prepared:
        try:
            pc = PreparedCover(cover, max_bytes=broadcast_max_bytes)
        except CoverTooLargeError as exc:
            import warnings

            warnings.warn(f"spatial_join: {exc}; falling back to shuffled join")
            use_arrow_refine = False
    if use_arrow_refine:
        # geometry goes to workers ONCE as the broadcast edge table keyed
        # by xxhash64(cad_number); the join and the Arrow hop ship only
        # slim (cell, cad, full) rows
        if prepared:
            pc = cover
        geom_bc = pc.geom_bc
        cov = F.broadcast(pc.slim)
        boundary_cols = [
            "image_id",
            "cad_number",
            "cell",
            F.xxhash64("cad_number").alias("pk"),
            "lon",
            "lat",
        ]
    else:
        cov = cover
        boundary_cols = ["image_id", "cad_number", "cell", "geom", "lon", "lat"]
    if salt is not None and salt > 1:
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64("image_id"), F.lit(salt)))
        cov = cov.withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(salt)])))
        joined = pts.join(cov, ["cell", "_salt"], "inner").drop("_salt")
    else:
        joined = pts.join(cov, "cell", "inner")
    # full-interior cells are already exact matches: emit them on the pure
    # relational path — only boundary candidates pay the Python/Arrow hop
    # (for a large parcel the interior dominates, so at scale the Arrow
    # stage sees a small perimeter-proportional fraction of candidates)
    full_rows = joined.filter(F.col("full")).select("image_id", "cad_number", "cell")
    boundary = joined.filter(~F.col("full")).select(*boundary_cols)
    if use_arrow_refine:
        refined = boundary.mapInArrow(_refine_arrow_broadcast(geom_bc), schema=_REFINE_SCHEMA)
    else:
        refined = boundary.mapInArrow(_refine_batches, schema=_REFINE_SCHEMA)
    return full_rows.unionByName(refined)


def _cover_res(cover: DataFrame) -> int:
    # resolution is embedded in column metadata by build_parcel_cover
    meta = cover.schema["cell"].metadata or {}
    return int(meta.get("res", 12))
