"""Deterministic synthetic fixtures (FIXTURES.md contract).

Everything here is a pure function of ``(seed, n)`` — no wall clock, no
external data.  Two consumers:

* pytest fixtures: small images/parcels/contours tables with brute-force
  numpy/shapely-free oracles;
* the driver oracle path: an images-shaped frame derived **arithmetically**
  from the driver's ``lineitem``/``documents`` testdata so the flagship
  spatial join has an exact DuckDB-SQL oracle (every derivation below is
  also emitted as SQL text, identical IEEE-754 op order on both sides).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rosreestr_xml_to_gis_converter_spark.functions.imaging import encode_image

# ---------------------------------------------------------------------------
# geotag derivation (documented engine rule, FIXTURES.md section 1):
# the input table has no lat/lon; the point comes deterministically from
# phash over a job-parameter bounding box.
# ---------------------------------------------------------------------------

_MASK32 = 0xFFFFFFFF
_TWO32 = 4294967296.0


@dataclass(frozen=True)
class GeoBox:
    lon0: float
    lat0: float
    dlon: float
    dlat: float

    # numpy (oracle) ------------------------------------------------------
    def lon_np(self, phash: np.ndarray) -> np.ndarray:
        frac = (np.asarray(phash, dtype=np.int64) & _MASK32).astype(np.float64) / _TWO32
        return self.lon0 + frac * self.dlon

    def lat_np(self, phash: np.ndarray) -> np.ndarray:
        frac = ((np.asarray(phash, dtype=np.int64) >> 32) & _MASK32).astype(np.float64) / _TWO32
        return self.lat0 + frac * self.dlat

    # Column (JVM hot path) -------------------------------------------------
    def lon_col(self, phash: Column) -> Column:
        frac = phash.bitwiseAND(F.lit(_MASK32)).cast("double") / F.lit(_TWO32)
        return F.lit(self.lon0) + frac * F.lit(self.dlon)

    def lat_col(self, phash: Column) -> Column:
        frac = (
            F.shiftright(phash, 32).bitwiseAND(F.lit(_MASK32)).cast("double") / F.lit(_TWO32)
        )
        return F.lit(self.lat0) + frac * F.lit(self.dlat)

    # SQL text (DuckDB oracle) — identical op order to the Column side ------
    def lon_sql(self, phash_expr: str) -> str:
        return f"({self.lon0} + CAST(({phash_expr}) & {_MASK32} AS DOUBLE) / {_TWO32} * {self.dlon})"

    def lat_sql(self, phash_expr: str) -> str:
        return (
            f"({self.lat0} + CAST((({phash_expr}) >> 32) & {_MASK32} AS DOUBLE)"
            f" / {_TWO32} * {self.dlat})"
        )


# The box used by the driver-oracle flagship join; chosen to straddle the
# TESTDATA_PARCELS layer so images land inside, on boundaries, and outside.
TESTDATA_BOX = GeoBox(lon0=30.0, lat0=50.0, dlon=12.0, dlat=6.0)

# Fixed rectangle parcel layer for the driver oracle (SQL-expressible
# point-in-polygon).  (cad_number, lon_min, lat_min, lon_max, lat_max).
# "77:01:..." is deliberately large — a hot cadastral quarter exercising the
# skew/salting path.  General (hole/L-shape) polygons are exercised by the
# pytest brute-force oracle instead, where SQL cannot express containment.
TESTDATA_PARCELS: list[tuple[str, float, float, float, float]] = [
    ("77:01:0001001:1", 31.0, 51.0, 36.5, 54.5),   # hot quarter (big)
    ("77:01:0001001:2", 36.5, 51.0, 37.25, 51.75),
    ("77:02:0002002:7", 38.0, 52.0, 39.5, 53.0),
    ("50:11:0003003:12", 30.5, 55.0, 33.0, 55.8),
    ("50:11:0003003:13", 33.5, 55.1, 34.0, 55.9),
    ("50:21:0004004:3", 40.0, 50.2, 41.75, 51.4),
    ("69:40:0100627:44", 40.5, 54.0, 41.9, 55.5),
    ("69:40:0100628:5", 30.2, 50.1, 30.9, 50.55),
]


def testdata_parcels_rings() -> list[tuple[str, list[np.ndarray]]]:
    """Rectangles as the engine's general ring representation (lon,lat),
    closed, outer ring only."""
    out = []
    for cad, x0, y0, x1, y1 in TESTDATA_PARCELS:
        ring = np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64
        )
        out.append((cad, [ring]))
    return out


def parcels_values_sql() -> str:
    """The parcel layer as a SQL VALUES list (oracle side)."""
    rows = ", ".join(
        f"('{cad}', {x0!r}, {y0!r}, {x1!r}, {y1!r})" for cad, x0, y0, x1, y1 in TESTDATA_PARCELS
    )
    return f"(VALUES {rows}) AS par(cad_number, lon_min, lat_min, lon_max, lat_max)"


# ---------------------------------------------------------------------------
# images derived from driver testdata (lineitem) — arithmetic only, so the
# whole flagship pipeline has an exact SQL oracle AND the derivation stays
# JVM-side (no UDF touches the large table).
# ---------------------------------------------------------------------------

_PH_A = 2654435761  # Knuth multiplicative-hash constants; products stay < 2^63
_PH_B = 40503


def images_from_lineitem(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """Project the driver's ``lineitem`` into the input_hint shape.

    ``bytes`` is null here (the codec path is covered by the synthesized
    table below); geometry-relevant columns (image_id, phash) are exact
    integer arithmetic mirrored in the SQL oracle.  ``replicate`` blows
    the table up deterministically (distinct phash per copy) for scaling
    runs — the 10^12-row story at sandbox size.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if replicate > 1:
        # fan-out changes the data volume: spread the (small) pre-explode
        # input across all cores first, so the 16x row generation and
        # everything downstream parallelizes (a small parquet file yields
        # only 1-3 scan splits otherwise)
        li = li.repartition(spark.sparkContext.defaultParallelism)
        li = li.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        )
        a = F.col("l_orderkey") * F.lit(replicate) + F.col("_rep")
        img_id = F.concat_ws(
            "-", F.lit("img"), F.col("l_orderkey"), F.col("l_linenumber"), F.col("_rep")
        )
    else:
        a = F.col("l_orderkey")
        img_id = F.concat_ws("-", F.lit("img"), F.col("l_orderkey"), F.col("l_linenumber"))
    phash = phash_col(a, F.col("l_linenumber").cast("long"))
    return li.select(
        img_id.alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(64).alias("w"),
        F.lit(64).alias("h"),
        F.lit("png").alias("fmt"),
        F.concat(F.lit("parcel photo "), F.col("l_orderkey")).alias("caption"),
        phash.alias("phash"),
    )


def distinct_images_from_lineitem(
    spark: SparkSession, sf_dir: str, max_orderkey: int | None = None
) -> DataFrame:
    """Distinct ``(image_id, phash)`` images — the narrow-key twin of
    ``images_from_lineitem(...).dropDuplicates(["image_id"])``.

    ``image_id`` is a bijection of ``(l_orderkey, l_linenumber)`` (plain
    integers joined by '-'), so deduping on the two raw INT columns and
    deriving the string id / phash AFTER the exchange yields the same
    distinct set while the shuffle carries 12 bytes per row instead of a
    ~17-byte string plus a first(phash) aggregation state, and the hash
    aggregate runs on fixed-width keys (guide §2.3: shuffle fewer,
    narrower bytes).  ``max_orderkey`` pushes the planted-fixture
    ``l_orderkey < N`` filter below the dedup exchange and into the
    parquet scan (it commutes with distinct on the key pair).
    """
    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import spread_input_by

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if max_orderkey is not None:
        li = li.filter(F.col("l_orderkey") < max_orderkey)
    # size-gated repartition ON THE DEDUP KEYS: the low-row-group sandbox
    # parquet would otherwise run the map-side partial aggregate at the
    # row-group count's parallelism; keyed repartition lets the distinct
    # reuse the exchange (guide §2.4) and runs it on all cores
    d = spread_input_by(
        li.select("l_orderkey", "l_linenumber"), "l_orderkey", "l_linenumber"
    ).dropDuplicates()
    return d.select(
        F.concat_ws(
            "-", F.lit("img"), F.col("l_orderkey"), F.col("l_linenumber")
        ).alias("image_id"),
        phash_col(F.col("l_orderkey"), F.col("l_linenumber").cast("long")).alias(
            "phash"
        ),
    )


def scaling_images(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """Partition-true synthetic images table for scaling runs.

    ``spark.range`` splits perfectly across cores — the sandbox stand-in
    for a well-partitioned 10^12-row Iceberg scan (the driver testdata
    parquet has too few row groups to feed 32 cores).  Same input_hint
    shape and phash arithmetic as :func:`images_from_lineitem`.
    """
    parts = partitions or spark.sparkContext.defaultParallelism * 2
    r = spark.range(0, n_rows, 1, parts)
    phash = phash_col(F.col("id"), (F.col("id") % F.lit(7)).cast("long"))
    return r.select(
        F.concat(F.lit("img-"), F.col("id")).alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(64).alias("w"),
        F.lit(64).alias("h"),
        F.lit("png").alias("fmt"),
        F.concat(F.lit("parcel photo "), F.col("id")).alias("caption"),
        phash.alias("phash"),
    )


def phash_col(a: Column, b: Column) -> Column:
    hi = (a * F.lit(_PH_A) + b * F.lit(_PH_B)) % F.lit(2147483648)
    lo = (a * F.lit(_PH_B) + b * F.lit(_PH_A)) % F.lit(4294967296)
    return hi * F.lit(4294967296) + lo


def phash_sql(a: str, b: str) -> str:
    return (
        f"((({a}) * {_PH_A} + ({b}) * {_PH_B}) % 2147483648) * 4294967296"
        f" + ((({a}) * {_PH_B} + ({b}) * {_PH_A}) % 4294967296)"
    )


# ---------------------------------------------------------------------------
# fully synthetic images table (with real encoded bytes) — FIXTURES.md §1
# ---------------------------------------------------------------------------

_DISTRICTS = ["Тверь", "Москва", "Руза", "Клин", "Истра"]


def gen_image_array(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Seeded photo-like content: smooth gradients + low-frequency
    texture + mild sensor noise, CLIPPED not modulo-wrapped.

    Photo-like matters because the codec is now a real baseline JPEG
    (functions/jpeg.py): the round-1 fixture (uniform +-48 noise over a
    sawtooth) was codec-hostile content no camera produces, and the
    40 dB PSNR invariant is a statement about photographs.  Noise keeps
    PSNR finite and meaningful; smoothness keeps it in the passing band
    at quality 95 (worst case measured ~44 dB over the fixture family).
    """
    yy, xx = np.mgrid[0:h, 0:w]
    phase = rng.uniform(0, 2 * np.pi, size=3)
    base = np.stack(
        [
            128.0
            + 70.0 * np.sin(xx / (8.0 + 3.0 * k) + phase[k])
            * np.cos(yy / (9.0 + 2.0 * k) + phase[(k + 1) % 3])
            + (xx * (20.0 + 10.0 * k) / max(w - 1, 1))
            for k in range(3)
        ],
        axis=-1,
    )
    # sigma 1.5: unencodable noise floors PSNR near 10*log10(255^2/s^2);
    # sigma 3 alone would cap it at ~38.6 dB, below the 40 dB gate
    noise = rng.normal(0.0, 1.5, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def gen_images_pdf(seed: int, n: int) -> pd.DataFrame:
    """Deterministic images table, exactly the input_hint columns."""
    rng = np.random.default_rng(seed)
    sizes = np.array([32, 64, 128], dtype=np.int32)
    ws = rng.choice(sizes, size=n)
    hs = rng.choice(sizes, size=n)
    phash = rng.integers(0, 2**63 - 1, size=n, dtype=np.int64)
    rows = []
    for i in range(n):
        fmt = "jpeg" if i % 3 == 0 else "png"
        arr = gen_image_array(rng, int(ws[i]), int(hs[i]))
        data = encode_image(arr, fmt)
        district = _DISTRICTS[i % len(_DISTRICTS)]
        rows.append(
            (
                f"img-{i:012d}",
                data,
                int(ws[i]),
                int(hs[i]),
                fmt,
                f"parcel photo {i} near {district}",
                int(phash[i]),
            )
        )
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def gen_images_df(spark: SparkSession, seed: int, n: int) -> DataFrame:
    from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA

    return spark.createDataFrame(gen_images_pdf(seed, n), schema=IMAGES_SCHEMA)


# ---------------------------------------------------------------------------
# synthetic parcel polygons (general shapes for the pytest oracle)
# ---------------------------------------------------------------------------

def gen_parcels(seed: int, n: int, box: GeoBox = TESTDATA_BOX) -> list[tuple[str, list[np.ndarray]]]:
    """n parcels in the box: rectangles, rectangles-with-hole, L-shapes,
    triangles.  Returns (cad_number, rings) with closed (lon,lat) rings,
    outer first, holes after — the reference emission shape."""
    rng = np.random.default_rng(seed)
    out: list[tuple[str, list[np.ndarray]]] = []
    for i in range(n):
        cx = box.lon0 + rng.uniform(0.1, 0.9) * box.dlon
        cy = box.lat0 + rng.uniform(0.1, 0.9) * box.dlat
        w = rng.uniform(0.02, 0.12) * box.dlon
        h = rng.uniform(0.02, 0.12) * box.dlat
        x0, x1 = cx - w / 2, cx + w / 2
        y0, y1 = cy - h / 2, cy + h / 2
        kind = i % 4
        cad = f"{50 + i % 40:02d}:{i % 99:02d}:{1000000 + i}:{i + 1}"
        if kind == 0:  # rectangle
            rings = [_rect(x0, y0, x1, y1)]
        elif kind == 1:  # rectangle with a hole
            hx0, hx1 = cx - w / 6, cx + w / 6
            hy0, hy1 = cy - h / 6, cy + h / 6
            rings = [_rect(x0, y0, x1, y1), _rect(hx0, hy0, hx1, hy1)[::-1].copy()]
        elif kind == 2:  # L-shape
            rings = [
                np.array(
                    [
                        [x0, y0],
                        [x1, y0],
                        [x1, cy],
                        [cx, cy],
                        [cx, y1],
                        [x0, y1],
                        [x0, y0],
                    ],
                    dtype=np.float64,
                )
            ]
        else:  # triangle
            rings = [
                np.array([[x0, y0], [x1, y0], [cx, y1], [x0, y0]], dtype=np.float64)
            ]
        out.append((cad, rings))
    return out


def _rect(x0: float, y0: float, x1: float, y1: float) -> np.ndarray:
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64
    )


def parcels_to_contours_pdf(parcels: list[tuple[str, list[np.ndarray]]]) -> pd.DataFrame:
    from rosreestr_xml_to_gis_converter_spark.functions.geometry import pack_rings

    return pd.DataFrame(
        {
            "geom_key": [cad for cad, _ in parcels],
            "doc_id": [cad for cad, _ in parcels],
            "geom": [pack_rings(rings) for _, rings in parcels],
        }
    )
