"""New-engine queries (SURVEY.md section 2.2 + training-data ops) wired to
the driver testdata, each with a DuckDB oracle where SQL can express it.

The flagship spatial join / cell encode / kNN run the REAL engine
machinery (grid index, cover builder, Arrow PIP refine, grid-disk kNN) on
an images-shaped frame derived *arithmetically* from ``lineitem`` — so the
DuckDB oracle can recompute the same geotags with plain SQL and the
comparison is bitwise-exact end to end.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rosreestr_xml_to_gis_converter_spark.index.grid import cell_sql
from rosreestr_xml_to_gis_converter_spark.operators import dedupe, similarity, textops
from rosreestr_xml_to_gis_converter_spark.operators.knn import knn_grid
from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import (
    PreparedCover,
    build_parcel_cover,
    prepare_cover,
    spatial_join,
    with_geotag,
)
from rosreestr_xml_to_gis_converter_spark.queries_ref import load
from rosreestr_xml_to_gis_converter_spark.synth import (
    TESTDATA_BOX,
    TESTDATA_PARCELS,
    distinct_images_from_lineitem,
    images_from_lineitem,
    parcels_values_sql,
    phash_sql,
    testdata_parcels_rings,
)

JOIN_RES = 12
KNN_RES = 5
KNN_DISK = 2
KNN_K = 3

_IMAGES_CTE = f"""
images AS (
  SELECT concat('img-', l_orderkey, '-', l_linenumber) AS image_id,
         {phash_sql('l_orderkey', 'l_linenumber')} AS phash
  FROM lineitem
),
pts AS (
  SELECT image_id,
         {TESTDATA_BOX.lon_sql('phash')} AS lon,
         {TESTDATA_BOX.lat_sql('phash')} AS lat
  FROM images
)
"""


# --- flagship: cell encode ---------------------------------------------------

def cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rosreestr_xml_to_gis_converter_spark.index.grid import cell_col

    img = images_from_lineitem(spark, sf_dir)
    pts = with_geotag(img, TESTDATA_BOX)
    return pts.select(
        "image_id",
        "lon",
        "lat",
        cell_col(F.col("lat"), F.col("lon"), JOIN_RES).alias("cell"),
    )


CELL_ENCODE_SQL = f"""
WITH {_IMAGES_CTE}
SELECT image_id, lon, lat, {cell_sql('lat', 'lon', JOIN_RES)} AS cell FROM pts
"""


def cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution cell rollup (hypertable-style): per-cell image
    counts at res 12 rolled up to res 9 and 6.

    Scale shape: the raw table is scanned ONCE and aggregated at the
    finest resolution; every coarser level derives from that (already
    tiny) aggregate via ``cell_parent_col`` bit arithmetic — one explode
    of 3 (res, ancestor) structs per FINE CELL, then a re-aggregate over
    ~|cells| rows.  At 10^12 images the second shuffle moves cell
    counts, not rows.  Exactness across levels is guaranteed because
    the grid scales by powers of two: ``floor(t * 2^12) >> 3 ==
    floor(t * 2^9)`` exactly in IEEE-754 (power-of-two products are
    exact), and the per-res clamp commutes with the shift — so the
    oracle may encode each level independently from lat/lon."""
    from rosreestr_xml_to_gis_converter_spark.index.grid import (
        cell_col,
        cell_parent_col,
    )

    img = images_from_lineitem(spark, sf_dir)
    pts = with_geotag(img, TESTDATA_BOX)
    fine = (
        pts.select(cell_col(F.col("lat"), F.col("lon"), JOIN_RES).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )
    levels = F.array(
        F.struct(F.lit(JOIN_RES).alias("res"), F.col("cell").alias("cell")),
        F.struct(
            F.lit(9).alias("res"),
            cell_parent_col(F.col("cell"), JOIN_RES, 9).alias("cell"),
        ),
        F.struct(
            F.lit(6).alias("res"),
            cell_parent_col(F.col("cell"), JOIN_RES, 6).alias("cell"),
        ),
    )
    return (
        fine.select(F.explode(levels).alias("rc"), "n_images")
        .groupBy(F.col("rc.res").alias("res"), F.col("rc.cell").alias("cell"))
        .agg(F.sum("n_images").alias("n_images"))
    )


CELL_ROLLUP_SQL = f"""
WITH {_IMAGES_CTE}
SELECT CAST(12 AS INTEGER) AS res, {cell_sql('lat', 'lon', 12)} AS cell,
       COUNT(*) AS n_images
FROM pts GROUP BY 2
UNION ALL
SELECT CAST(9 AS INTEGER) AS res, {cell_sql('lat', 'lon', 9)} AS cell,
       COUNT(*) AS n_images
FROM pts GROUP BY 2
UNION ALL
SELECT CAST(6 AS INTEGER) AS res, {cell_sql('lat', 'lon', 6)} AS cell,
       COUNT(*) AS n_images
FROM pts GROUP BY 2
"""


# --- flagship: spatial join --------------------------------------------------

# One PreparedCover per parcel layer: its size guard, collect and broadcast
# are paid once, not per join.  Keyed by Spark application id so a fresh
# session builds its own broadcast instead of reusing a stopped context's.
_PREPARED: dict[tuple[str, int], PreparedCover] = {}


def testdata_prepared_cover(spark: SparkSession, res: int = JOIN_RES) -> PreparedCover:
    app_id = spark.sparkContext.applicationId
    # evict entries of stopped SparkContexts: their broadcasts are dead
    for k in [k for k in _PREPARED if k[0] != app_id]:
        del _PREPARED[k]
    key = (app_id, res)
    pc = _PREPARED.get(key)
    if pc is None:
        cover = build_parcel_cover(spark, testdata_parcels_rings(), res)
        pc = prepare_cover(cover)
        _PREPARED[key] = pc
    return pc


def flagship_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = images_from_lineitem(spark, sf_dir)
    return spatial_join(img, testdata_prepared_cover(spark), TESTDATA_BOX)


FLAGSHIP_SQL = f"""
WITH {_IMAGES_CTE}
SELECT p.image_id, par.cad_number, {cell_sql('p.lat', 'p.lon', JOIN_RES)} AS cell
FROM pts p
JOIN {parcels_values_sql()}
  ON p.lon >= par.lon_min AND p.lon < par.lon_max
 AND p.lat >= par.lat_min AND p.lat < par.lat_max
"""


# --- flagship: kNN to nearest parcel ----------------------------------------

def flagship_spatial_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join through the explicit skew-salting path (hot cadastral
    quarters) — identical result, verified against the same oracle."""
    img = images_from_lineitem(spark, sf_dir)
    cover = build_parcel_cover(spark, testdata_parcels_rings(), JOIN_RES)
    return spatial_join(img, cover, TESTDATA_BOX, broadcast_cover=False, salt=4)


def flagship_spatial_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join via the non-broadcast shuffled path (huge parcel layers):
    geometry rides the join rows into the Arrow refine — same oracle."""
    img = images_from_lineitem(spark, sf_dir)
    cover = build_parcel_cover(spark, testdata_parcels_rings(), JOIN_RES)
    return spatial_join(img, cover, TESTDATA_BOX, broadcast_cover=False)


# the testdata parcels' bbox centres: the layer of knn_parcels, _literal
# and _brute
_CENTROIDS: list[tuple[str, float, float]] = [
    (cad, (x0 + x1) / 2.0, (y0 + y1) / 2.0) for cad, x0, y0, x1, y1 in TESTDATA_PARCELS
]


def _centroids_pdf(rows: list[tuple[str, float, float]] = _CENTROIDS) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["cad_number", "clon", "clat"])


def knn_parcels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the driver testdata holds duplicate (orderkey, linenumber) pairs;
    # kNN is keyed per distinct image (a real image table is unique), so
    # dedup first — on the two raw INT key columns (narrow shuffle,
    # guide §2.3) rather than the derived id string
    img = distinct_images_from_lineitem(spark, sf_dir)
    centroids = spark.createDataFrame(_centroids_pdf())
    # the layer is a LITERAL dimension (TESTDATA_PARCELS): collect it
    # unguarded rather than behind the broadcast-size limit
    out = knn_grid(
        img, centroids, TESTDATA_BOX, k=KNN_K, res=KNN_RES, disk=KNN_DISK,
        layer_fallback=True,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _knn_sql(centroids: list[tuple[str, float, float]]) -> str:
    """DuckDB oracle of every kNN query: true kNN by cross join against the
    centroid layer as a VALUES list.  kNN is per DISTINCT image (the
    driver testdata holds duplicate (orderkey, linenumber) pairs; a real
    image table is unique-keyed)."""
    rows = ", ".join(f"('{cad}', {clon!r}, {clat!r})" for cad, clon, clat in centroids)
    return f"""
WITH {_IMAGES_CTE}
, dpts AS (SELECT DISTINCT image_id, lon, lat FROM pts)
SELECT image_id, cad_number, rank, dist FROM (
  SELECT p.image_id, cen.cad_number,
         row_number() OVER (
           PARTITION BY p.image_id
           ORDER BY sqrt((p.lon - cen.clon) * (p.lon - cen.clon)
                       + (p.lat - cen.clat) * (p.lat - cen.clat)) ASC,
                    cen.cad_number ASC) AS rank,
         sqrt((p.lon - cen.clon) * (p.lon - cen.clon)
            + (p.lat - cen.clat) * (p.lat - cen.clat)) AS dist
  FROM dpts p CROSS JOIN (VALUES {rows}) AS cen(cad_number, clon, clat)
) WHERE rank <= {KNN_K}
"""


KNN_SQL = _knn_sql(_CENTROIDS)


# a deliberately SPARSE centroid layer for the kNN completeness gate:
# 5 centroids packed inside ONE res-9 grid cell in the box's south-west
# corner (res-9 cell walls at multiples of 360/512 lon / 180/512 lat;
# lon 30.08..30.16 and lat 50.12..50.20 sit strictly inside one cell),
# so with disk=1 an image's disk either sees all 5 centroids or none —
# both the covered path and the whole-layer fallback stay exactly-true
# kNN and the single cross-join oracle covers them uniformly.
SPARSE_CENTROIDS: list[tuple[str, float, float]] = [
    ("99:01:0000001:1", 30.08, 50.12),
    ("99:01:0000001:2", 30.10, 50.14),
    ("99:01:0000001:3", 30.12, 50.16),
    ("99:01:0000001:4", 30.14, 50.18),
    ("99:01:0000001:5", 30.16, 50.20),
]


def knn_uncovered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN completeness gate: the centroid layer is sparse enough that
    most images' grid disks are EMPTY at res=9/disk=1.  An inner join on
    the grid disk would drop those images; the whole-layer fallback ranks
    them against the full (broadcast) layer, so the output must equal
    true kNN for every distinct image — exactly what the cross-join
    oracle states.  Row count == distinct images x k by construction."""
    img = distinct_images_from_lineitem(spark, sf_dir)
    cen = spark.createDataFrame(_centroids_pdf(SPARSE_CENTROIDS))
    out = knn_grid(
        img, cen, TESTDATA_BOX, k=KNN_K, res=9, disk=1, layer_fallback=True
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


KNN_UNCOVERED_SQL = _knn_sql(SPARSE_CENTROIDS)


# a res-9 cell-center LATTICE with 3-cell spacing, extended 3+ cells past
# the box on every side, for the short-disk gate: every image cell sees
# exactly ONE lattice point within Chebyshev 1 (spacing 3 > the 3-cell
# window), so every image's base disk is short of k and every image ranks
# the whole layer — TRUE kNN, which the plain cross-join oracle states.
def _knn_lattice() -> list[tuple[str, float, float]]:
    wx, wy = 360.0 / (1 << 9), 180.0 / (1 << 9)
    ix0 = int((TESTDATA_BOX.lon0 + 180.0) / wx) - 3
    ix1 = int((TESTDATA_BOX.lon0 + TESTDATA_BOX.dlon + 180.0) / wx) + 4
    iy0 = int((TESTDATA_BOX.lat0 + 90.0) / wy) - 3
    iy1 = int((TESTDATA_BOX.lat0 + TESTDATA_BOX.dlat + 90.0) / wy) + 4
    out = []
    for ix in range(ix0, ix1 + 1, 3):
        for iy in range(iy0, iy1 + 1, 3):
            out.append(
                (
                    f"77:{ix:05d}:{iy:05d}:1",
                    -180.0 + (ix + 0.5) * wx,
                    -90.0 + (iy + 0.5) * wy,
                )
            )
    return out


KNN_LATTICE = _knn_lattice()


def knn_escalated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-disk gate: the lattice fixture leaves every image short at
    the base disk (one candidate in any 3x3 window), so every image ranks
    the whole layer, collected behind the default broadcast-size guard,
    and every emitted row is TRUE kNN — exactly the cross-join oracle.
    Row count == distinct images x k: no short image is dropped."""
    img = distinct_images_from_lineitem(spark, sf_dir)
    cen = spark.createDataFrame(_centroids_pdf(KNN_LATTICE))
    out = knn_grid(img, cen, TESTDATA_BOX, k=KNN_K, res=9, disk=1)
    return out.withColumn("rank", F.col("rank").cast("long"))


KNN_ESCALATED_SQL = _knn_sql(KNN_LATTICE)


# --- checkpoint / resume lineage (M-family; checkpoint.py) -------------------

def checkpoint_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume driver oracle: a checkpointed bucketed write of
    ``orders`` with an INJECTED CRASH after the first bucket group, then a
    resume on the same run_id that completes the remaining groups.  The
    returned lineage table (one row per bucket with its row count) must
    equal a plain GROUP BY of the input — proving the crash+resume
    protocol re-runs exactly the missing buckets and counts the written
    files correctly.  The gate buckets on ``o_orderkey % 8``
    (SQL-recomputable); production uses the xxhash64 bucketer
    (``with_bucket``), same protocol."""
    import shutil
    import tempfile

    from rosreestr_xml_to_gis_converter_spark.checkpoint import (
        BUCKET_COL,
        CheckpointedWriter,
    )

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bdf = orders.withColumn(BUCKET_COL, (F.col("o_orderkey") % 8).cast("int"))
    base = tempfile.mkdtemp(prefix="gate_ckpt_")
    try:
        w = CheckpointedWriter(spark, base, run_id="gate-r4")
        try:
            w.write(bdf, key_col=BUCKET_COL, n_buckets=8, group_size=3,
                    fail_after_groups=1, pre_bucketed=True)
        except RuntimeError:
            pass  # the injected crash — lineage holds only group 0
        w.write(bdf, key_col=BUCKET_COL, n_buckets=8, group_size=3,
                pre_bucketed=True)  # resume: completes buckets 3..7 only
        lineage = (
            w.metrics()
            .filter(F.col("run_id") == "gate-r4")
            .select(F.col("bucket").cast("long").alias("bucket"), "n_rows")
            .toPandas()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(lineage)


CHECKPOINT_LINEAGE_SQL = """
SELECT CAST(o_orderkey % 8 AS BIGINT) AS bucket, COUNT(*) AS n_rows
FROM orders GROUP BY 1
"""


# --- image near-dup by perceptual hash (training-data op) --------------------

def dedup_phash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash near-dup with a planted-distance oracle: for every distinct
    image with orderkey < 400, a twin id '<id>~' is planted whose phash
    differs in EXACTLY k = orderkey % 7 low bits.  The banding join must
    surface precisely the twins with k <= 4 (the radius) at their exact
    hamming distance — missed recall or an organic false pair breaks the
    hash.  Organic pairs are absent on this input by construction
    (verified: the LCG-mixed phashes of the base subset share no
    <=4-hamming pair), so the oracle is closed-form."""
    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import phash_near_pairs

    # orderkey < 400 commutes with the key-pair distinct: push it into
    # the scan so the fixture dedups 400 orderkeys, not the whole table
    base = distinct_images_from_lineitem(spark, sf_dir, max_orderkey=400)
    k = F.split("image_id", "-")[1].cast("long") % 7
    # flip exactly the k low bits (2^k - 1; pow is exact for k <= 6)
    mask = (F.pow(F.lit(2.0), k.cast("double"))).cast("long") - 1
    twins = base.select(
        F.concat("image_id", F.lit("~")).alias("image_id"),
        F.col("phash").bitwiseXOR(mask).alias("phash"),
    )
    out = phash_near_pairs(base.unionByName(twins), max_hamming=4)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


DEDUP_PHASH_PLANTED_SQL = """
WITH base AS (
  SELECT DISTINCT concat('img-', l_orderkey, '-', l_linenumber) AS id,
         l_orderkey % 7 AS k
  FROM lineitem WHERE l_orderkey < 400)
SELECT id AS id_a, id || '~' AS id_b, CAST(k AS BIGINT) AS hamming
FROM base WHERE k <= 4
"""


def dedup_cluster_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING with a planted-chain oracle: every image with
    orderkey < 200 gets two chained variants — ``~b`` at hamming 3 from
    the base and ``~c`` at hamming 3 from ``~b`` but 6 from the base.
    The banding join therefore yields edges (A,B) and (B,C) but NOT
    (A,C): the component {A,B,C} exists only through transitivity, which
    is exactly what :func:`connected_components` must supply.  The
    DuckDB oracle computes the same components by recursive transitive
    closure over the same closed-form edge set.  Organic edges are
    impossible: base phashes are pairwise >= 15 apart (verified across
    sf0.001/0.01/0.1), so cross-variant distances are >= 9 > 4."""
    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import (
        connected_components,
        phash_near_pairs,
    )

    base = distinct_images_from_lineitem(spark, sf_dir, max_orderkey=200)
    vb = base.select(
        F.concat("image_id", F.lit("~b")).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(0b111)).alias("phash"),
    )
    vc = base.select(
        F.concat("image_id", F.lit("~c")).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(0b111111)).alias("phash"),
    )
    corpus = base.unionByName(vb).unionByName(vc)
    pairs = phash_near_pairs(corpus, max_hamming=4)
    return connected_components(pairs)


DEDUP_CLUSTER_PLANTED_SQL = """
WITH RECURSIVE base AS (
  SELECT DISTINCT concat('img-', l_orderkey, '-', l_linenumber) AS id
  FROM lineitem WHERE l_orderkey < 200),
edges AS (
  SELECT id AS s, id || '~b' AS t FROM base
  UNION ALL SELECT id || '~b', id || '~c' FROM base),
und AS (SELECT s, t FROM edges UNION SELECT t, s FROM edges),
nodes AS (SELECT s AS id FROM und GROUP BY s),
reach(s, t) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s)
SELECT s AS id, MIN(t) AS component FROM reach GROUP BY s
"""


# --- owner-aggregation matrix (A1, real_estate.py:183-452) -------------------

def a1_owner_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's owner CASE matrix over a rights table derived
    arithmetically from orders x customer; orderkey%3 spreads rows over
    numeric shares ('1/D'), hectare-text shares ('K га' — the
    list_doli_ga sub-branches, real_estate.py:387-402), and share-less
    rows, so the oracle mirrors the WHOLE branch tree."""
    from rosreestr_xml_to_gis_converter_spark.operators.attrs import owner_summary

    o = load(spark, sf_dir, "orders")
    den = F.round(F.col("o_totalprice")).cast("long")
    rights = o.select(
        F.col("o_custkey").alias("doc_id"),
        F.when(F.col("o_orderstatus") == "O", "Долевая собственность")
        .when(F.col("o_orderstatus") == "F", "Совместная собственность")
        .otherwise("Собственность")
        .alias("right_type"),
        F.concat(F.lit("Owner#"), (F.col("o_orderkey") % 4).cast("string")).alias("owner"),
        F.when(F.col("o_orderkey") % 3 == 0, den).alias("share_den"),
        F.when(F.col("o_orderkey") % 3 == 0, F.concat(F.lit("1/"), den))
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.concat((F.col("o_orderkey") % 9 + 1).cast("string"), F.lit(" га")),
        )
        .alias("share_text"),
        # document order: positional pairings / the last-right's-type
        # gate follow orderkey order, SQL-recomputable
        F.col("o_orderkey").alias("pos"),
    )
    c = load(spark, sf_dir, "customer")
    parcels = c.select(
        F.col("c_custkey").alias("doc_id"),
        F.when(F.col("c_mktsegment") == "FURNITURE", "Земли лесного фонда")
        .otherwise("Прочее")
        .alias("category"),
        F.lit("Калининский").alias("district_name"),
    )
    return owner_summary(rights, parcels)


# mirrors operators/attrs.owner_summary branch-for-branch (which itself
# transcribes real_estate.py:183-452 over document-ordered lists — see
# the module docstring there).  Lists are ordered by pos (= o_orderkey);
# the fixture's owners ('Owner#k') are initcap(upper(x))-invariant, so
# the SQL uses them raw where the engine applies initcap; no
# 'пропорциональн' share texts occur, so the prop filter is omitted.
A1_OWNER_MATRIX_SQL = """
WITH rights AS (
  SELECT o_custkey AS doc_id,
         o_orderkey AS pos,
         CASE o_orderstatus WHEN 'O' THEN 'Долевая собственность'
              WHEN 'F' THEN 'Совместная собственность'
              ELSE 'Собственность' END AS rt,
         'Owner#' || CAST(o_orderkey % 4 AS VARCHAR) AS owner,
         CASE WHEN o_orderkey % 3 = 0 THEN CAST(round(o_totalprice) AS BIGINT) END AS den,
         CASE WHEN o_orderkey % 3 = 0
              THEN '1/' || CAST(CAST(round(o_totalprice) AS BIGINT) AS VARCHAR)
              WHEN o_orderkey % 3 = 1
              THEN CAST(o_orderkey % 9 + 1 AS VARCHAR) || ' га' END AS txt
  FROM orders),
par AS (
  SELECT c_custkey AS doc_id,
         CASE WHEN c_mktsegment = 'FURNITURE' THEN 'Земли лесного фонда'
              ELSE 'Прочее' END AS category
  FROM customer),
g AS (
  SELECT doc_id,
         count(*) AS n_all,
         last(rt ORDER BY pos) AS gate,
         coalesce(list(rt ORDER BY pos)
           FILTER (WHERE rt <> 'Совместная собственность'), []) AS types,
         coalesce(list(owner ORDER BY pos)
           FILTER (WHERE rt <> 'Совместная собственность'), []) AS owners,
         coalesce(list(den ORDER BY pos)
           FILTER (WHERE rt = 'Долевая собственность' AND den IS NOT NULL), []) AS dolei,
         coalesce(list(txt ORDER BY pos)
           FILTER (WHERE rt = 'Долевая собственность' AND den IS NOT NULL), []) AS dtp,
         coalesce(list(txt ORDER BY pos)
           FILTER (WHERE rt = 'Долевая собственность' AND den IS NULL AND txt IS NOT NULL), []) AS ga,
         coalesce(list(owner ORDER BY pos)
           FILTER (WHERE rt = 'Совместная собственность'), []) AS jowners,
         count(*) FILTER (WHERE rt = 'Совместная собственность') AS njr
  FROM rights GROUP BY doc_id),
d AS (
  SELECT doc_id, n_all, gate, types, owners, dolei, dtp, ga,
         len(types) AS n_types, len(owners) AS n_owners_rows,
         list_transform(owners, o -> upper(o)) AS dolevikov,
         len(list_distinct(list_transform(owners, o -> upper(o)))) AS n_set,
         list_sort(list_distinct(list_transform(owners, o -> upper(o)))) AS set_sorted,
         CASE WHEN len(owners) BETWEEN 1 AND 2 THEN owners ELSE [] END AS ldn,
         list_aggregate(dolei, 'max') AS max_den,
         len(dolei) AS n_dolei, len(ga) AS n_ga,
         flatten(list_transform(range(njr), x -> jowners)) AS sovm,
         CASE WHEN len(types) = len(owners)
              THEN list_transform(range(len(types)),
                                  i -> types[i + 1] || ' ' || owners[i + 1])
              WHEN len(types) > 0 AND len(owners) = 0 THEN types
              WHEN len(list_distinct(types)) = 1 AND len(owners) = 1
              THEN [types[1] || ' ' || owners[1]]
              ELSE [] END AS cell_owner
  FROM g),
e AS (
  SELECT d.*, p.category,
         CASE WHEN len(cell_owner) > 0 THEN cell_owner
              WHEN category IN ('Земли лесного фонда', 'Земли водного фонда')
              THEN ['Собственность РФ']
              ELSE ['Администрация Калининского района'] END AS cell_final,
         CASE WHEN n_types > 0 AND n_owners_rows = 0 THEN gate ELSE '' END AS b4
  FROM d JOIN par p USING (doc_id))
SELECT p.doc_id,
  CASE
    WHEN e.n_all IS NULL THEN
      CASE WHEN p.category IN ('Земли лесного фонда', 'Земли водного фонда')
           THEN 'Собственность РФ'
           ELSE 'Администрация Калининского района' END
    WHEN e.gate = 'Долевая собственность' THEN
      CASE
        WHEN e.n_types = 1 AND e.n_owners_rows = 1
          THEN e.types[1] || ' ' || e.owners[1]
        WHEN e.n_ga > 0 AND e.n_ga = e.n_owners_rows AND e.n_owners_rows <= 2
          THEN 'Долевая собственность ' || array_to_string(
                 list_transform(range(e.n_ga), i -> e.ga[i + 1] || ' ' || e.owners[i + 1]), ', ')
        WHEN e.n_ga > 0 AND e.n_ga = e.n_owners_rows
          THEN 'Долевая собственность (' || e.n_set || ' правообладателей)'
        WHEN e.n_ga > 0 AND e.n_dolei > 0 AND e.n_set > 2
          THEN 'Долевая собственность (' || e.max_den || ' долей; ' || e.n_set || ' правообладателей)'
        WHEN e.n_ga > 0 AND e.n_dolei > 0 AND e.n_set = 2
          -- array_to_string([]) is NULL in DuckDB; the empty ldn join
          -- must yield '' (the reference's ', '.join([]))
          THEN 'Долевая собственность ' || coalesce(array_to_string(e.ldn, ', '), '')
               || ' (' || e.max_den || ' долей)'
        WHEN e.n_ga > 0 AND e.n_dolei > 0 THEN e.b4
        WHEN e.n_ga > 0 AND e.n_set > 2
          THEN 'Долевая собственность (' || e.n_set || ' правообладателей)'
        WHEN e.n_ga > 0
          THEN 'Долевая собственность (' || array_to_string(e.set_sorted, ', ') || ')'
        WHEN e.n_dolei > 0 AND e.n_set = 1
             AND list_contains(e.dolevikov, 'ДАННЫЕ О ПРАВООБЛАДАТЕЛЕ ОТСУТСТВУЮТ')
          THEN 'Долевая собственность (' || e.max_den || ' долей; данные о правообладателях отсутствуют)'
        WHEN e.n_dolei > 0 AND e.n_set = 1 AND len(e.dolevikov) <= 2
          THEN 'Долевая собственность (' || e.max_den || ' долей)' || e.ldn[1]
        WHEN e.n_dolei > 0 AND e.n_set = 1 THEN e.b4
        WHEN e.n_dolei > 0 AND len(e.dolevikov) > 2
          THEN 'Долевая собственность (' || e.max_den || ' долей; ' || e.n_set || ' правообладателей)'
        WHEN e.n_dolei > 0 AND len(e.dolevikov) = 1
          THEN 'Долевая собственность ' || e.dtp[1] || ' ' || e.ldn[1]
        WHEN e.n_dolei > 0 AND len(e.dolevikov) = 2 AND len(e.dtp) >= 2
          THEN 'Долевая собственность: ' || e.dtp[1] || ' ' || e.ldn[1]
               || ', ' || e.dtp[2] || ' ' || e.ldn[2]
        WHEN e.n_dolei > 0 THEN e.b4
        WHEN e.n_set > 0
          THEN 'Долевая собственность (' || e.n_set || ' правообладателей)'
        ELSE e.b4
      END
    WHEN len(e.sovm) > 0 THEN
      CASE WHEN e.sovm = e.owners
           THEN 'Совместная собственность ' || array_to_string(e.sovm, ', ')
           ELSE 'Совместная собственность ' || array_to_string(e.sovm, ', ')
                || ', ' || array_to_string(e.cell_final, ', ') END
    WHEN e.n_dolei > 0 THEN
      CASE WHEN e.n_dolei > 2
           THEN 'Долевая собственность  (' || e.max_den || ' долей; ' || e.n_set || ' правообладателей)'
           ELSE array_to_string(
                  list_transform(range(len(e.dtp)),
                    i -> 'Долевая собственность ' || e.dtp[i + 1] || ' '
                         || coalesce(e.owners[list_position(e.dtp, e.dtp[i + 1])], '')), ', ')
                || CASE WHEN e.n_owners_rows = len(e.dtp) + 1 AND e.n_types > 0
                        THEN ', ' || e.types[1] || ' ' || e.owners[e.n_owners_rows]
                        ELSE '' END END
    WHEN len(e.cell_final) = 0 THEN ''
    ELSE array_to_string(e.cell_final, ', ')
  END AS owner
FROM par p LEFT JOIN e USING (doc_id)
"""


# --- dedup -------------------------------------------------------------------

def knn_parcels_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN against a centroid list given in Python: the list becomes the
    broadcast layer directly and every image ranks the whole layer in the
    numpy top-k, one Arrow stage over the image scan.  The operator
    assumes unique image ids (true of a real image table); the driver
    testdata has duplicate (orderkey, linenumber) pairs, so dedupe first
    to match the per-distinct-key oracle."""
    from rosreestr_xml_to_gis_converter_spark.operators.knn import knn_literal

    img = distinct_images_from_lineitem(spark, sf_dir)
    out = knn_literal(img, _CENTROIDS, TESTDATA_BOX, k=KNN_K)
    return out.withColumn("rank", F.col("rank").cast("long"))


def knn_parcels_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN via the broadcast nested-loop baseline — same oracle as
    the grid path."""
    from rosreestr_xml_to_gis_converter_spark.operators.knn import knn_bruteforce

    img = distinct_images_from_lineitem(spark, sf_dir)
    centroids = spark.createDataFrame(_centroids_pdf())
    out = knn_bruteforce(img, centroids, TESTDATA_BOX, k=KNN_K)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- streaming realization: tumbling-window counts (batch twin) -------------

def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.windowed_counts (same Column expressions;
    stream/batch parity is proven in tests/test_streaming.py)."""
    from rosreestr_xml_to_gis_converter_spark.streaming.events import (
        windowed_counts_batch,
    )

    return windowed_counts_batch(load(spark, sf_dir, "events"), window="4 hours")


STREAM_WINDOW_SQL = """
SELECT time_bucket(INTERVAL '4 hours', ts, TIMESTAMP '1970-01-01') AS win_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2
"""


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stateful_user_totals' FINAL state (the
    applyInPandasWithState operator; stream/batch state parity is proven
    in tests/test_streaming.py)."""
    from rosreestr_xml_to_gis_converter_spark.streaming.events import user_totals_batch

    return user_totals_batch(load(spark, sf_dir, "events"))


STREAM_USER_TOTALS_SQL = """
SELECT user_id, count(*) AS n_total,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY user_id
"""


def stream_lww_winner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stream_lww_upsert's final per-key state
    (last-writer-wins by (ts, event_id) — G4's streaming generalization;
    parity with the stateful stream is proven in tests/test_streaming.py)."""
    from pyspark.sql import Window

    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import spread_input_by

    # same keyed spread as g4_lww_upsert (single-row-group events scan)
    e = spread_input_by(load(spark, sf_dir, "events"), "user_id")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


STREAM_LWW_WINNER_SQL = """
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def stream_neardup_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming.near_dup.stream_near_dup_matches`` over
    a planted-twin corpus: static layer = images with orderkey < 400;
    probes = twins at hamming k = orderkey % 7 "arriving" at epoch +
    orderkey hours.  Exactly the k <= 4 probes must surface, each
    matching PRECISELY its own base image — the min pairwise base
    hamming is >= 12 at sf0.001/0.01/0.1 (measured), so a probe sits
    >= 8 from every other base and the oracle is closed-form.
    Stream/batch parity (stream-static chunk join + watermarked window
    agg vs these exact expressions) is proven in
    tests/test_streaming.py."""
    from rosreestr_xml_to_gis_converter_spark.streaming.near_dup import (
        near_dup_matches_batch,
    )

    base = distinct_images_from_lineitem(spark, sf_dir, max_orderkey=400)
    k = F.split("image_id", "-")[1].cast("long") % 7
    mask = (F.pow(F.lit(2.0), k.cast("double"))).cast("long") - 1
    probes = base.select(
        F.concat("image_id", F.lit("~")).alias("image_id"),
        F.col("phash").bitwiseXOR(mask).alias("phash"),
        # NTZ like the parquet events.ts column: the oracle's naive
        # time_bucket must hash-match (tz-aware arrow output would not)
        F.timestamp_seconds(F.split("image_id", "-")[1].cast("long") * 3600)
        .cast("timestamp_ntz")
        .alias("ts"),
    )
    out = near_dup_matches_batch(probes, base, max_hamming=4)
    # array -> joined string for the gate: Spark and DuckDB disagree on
    # arrow list FIELD metadata (element nullability / child name), which
    # a strict schema comparison flags even when the values hash equal
    return out.select(
        "win_start",
        "probe_id",
        F.array_join("matches", ",").alias("matches"),
        "n_matches",
    )


STREAM_NEARDUP_SQL = """
WITH base AS (
  SELECT DISTINCT concat('img-', l_orderkey, '-', l_linenumber) AS id,
         l_orderkey % 7 AS k, l_orderkey AS okey
  FROM lineitem WHERE l_orderkey < 400)
SELECT time_bucket(INTERVAL '4 hours',
                   TIMESTAMP '1970-01-01' + okey * INTERVAL 1 hour,
                   TIMESTAMP '1970-01-01') AS win_start,
       id || '~' AS probe_id, id AS matches, CAST(1 AS BIGINT) AS n_matches
FROM base WHERE k <= 4
"""


# --- tiling ------------------------------------------------------------------

_TILE_PX = 16


def tile_masks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster<->vector tiling through the REAL kernel (numpy PIP raster),
    checked against an exact SQL oracle: the testdata parcels are
    axis-aligned rectangles, the PIP kernel is exactly half-open
    [min, max) per axis (functions/geometry.py:138), and pixel centers /
    cover membership are closed-form — so DuckDB recomputes per-tile
    ``coverage_px`` bit-exactly (mask_md5 stays pytest-verified: MD5 of a
    raster is not SQL-expressible)."""
    from rosreestr_xml_to_gis_converter_spark.operators.tiling import tile_masks

    cover = build_parcel_cover(spark, testdata_parcels_rings(), JOIN_RES)
    return tile_masks(cover, px=_TILE_PX).select("tile_cell", "cad_number", "coverage_px")


def _tile_masks_sql() -> str:
    """DuckDB mirror of polygon_to_cells + rasterize_mask for rectangles.

    Same IEEE-754 op order as index/grid.py:polygon_to_cells (candidate
    range + corner classification + conservative edge-bbox crossing) and
    operators/tiling.py:rasterize_mask (pixel-center half-open PIP), so
    the join keys and coverage counts agree bitwise."""
    n = 1 << JOIN_RES
    px = _TILE_PX
    w = f"(360.0 / {float(n)})"
    h = f"(180.0 / {float(n)})"

    def clip(expr: str) -> str:
        return f"greatest(0, least({n - 1}, CAST(floor({expr}) AS BIGINT)))"

    nx = (
        f"len(list_filter(range(0, {px}), j -> "
        f"lon_min <= cx0 + (CAST(j AS DOUBLE) + 0.5) * (cx1 - cx0) / {float(px)} "
        f"AND cx0 + (CAST(j AS DOUBLE) + 0.5) * (cx1 - cx0) / {float(px)} < lon_max))"
    )
    ny = (
        f"len(list_filter(range(0, {px}), j -> "
        f"lat_min <= cy0 + (CAST(j AS DOUBLE) + 0.5) * (cy1 - cy0) / {float(px)} "
        f"AND cy0 + (CAST(j AS DOUBLE) + 0.5) * (cy1 - cy0) / {float(px)} < lat_max))"
    )
    return f"""
WITH b AS (
  SELECT cad_number, lon_min, lat_min, lon_max, lat_max,
         {clip(f"(lon_min - -180.0) / 360.0 * {float(n)}")} AS ix0,
         {clip(f"(lon_max - -180.0) / 360.0 * {float(n)}")} AS ix1,
         {clip(f"(lat_min - -90.0) / 180.0 * {float(n)}")} AS iy0,
         {clip(f"(lat_max - -90.0) / 180.0 * {float(n)}")} AS iy1
  FROM {parcels_values_sql()}
),
cand AS (
  SELECT b.*, t1.ix, t2.iy
  FROM b, unnest(range(b.ix0, b.ix1 + 1)) AS t1(ix),
          unnest(range(b.iy0, b.iy1 + 1)) AS t2(iy)
),
cells AS (
  SELECT cad_number, lon_min, lat_min, lon_max, lat_max,
         CAST({JOIN_RES} AS BIGINT) * {1 << 56} + ix * {1 << 28} + iy AS tile_cell,
         -180.0 + CAST(ix AS DOUBLE) * {w} AS cx0,
         -90.0 + CAST(iy AS DOUBLE) * {h} AS cy0
  FROM cand
),
cls AS (
  SELECT *, cx0 + {w} AS cx1, cy0 + {h} AS cy1 FROM cells
),
k AS (
  SELECT *,
    (lon_min <= cx0 AND cx0 < lon_max AND lat_min <= cy0 AND cy0 < lat_max) AS in00,
    (lon_min <= cx1 AND cx1 < lon_max AND lat_min <= cy0 AND cy0 < lat_max) AS in10,
    (lon_min <= cx0 AND cx0 < lon_max AND lat_min <= cy1 AND cy1 < lat_max) AS in01,
    (lon_min <= cx1 AND cx1 < lon_max AND lat_min <= cy1 AND cy1 < lat_max) AS in11,
    ((lon_min <= cx1 AND lon_max >= cx0 AND lat_min <= cy1 AND lat_min >= cy0)
     OR (lon_min <= cx1 AND lon_max >= cx0 AND lat_max <= cy1 AND lat_max >= cy0)
     OR (lon_min <= cx1 AND lon_min >= cx0 AND lat_min <= cy1 AND lat_max >= cy0)
     OR (lon_max <= cx1 AND lon_max >= cx0 AND lat_min <= cy1 AND lat_max >= cy0)) AS crossed
  FROM cls
)
SELECT tile_cell, cad_number,
       CAST(CASE WHEN in00 AND in10 AND in01 AND in11 AND NOT crossed
                 THEN {px * px} ELSE ({nx}) * ({ny}) END AS BIGINT) AS coverage_px
FROM k
WHERE in00 OR in10 OR in01 OR in11 OR crossed
"""


TILE_MASKS_SQL = _tile_masks_sql()


# planted image fixtures with closed-form invariants: flat r=g=b JPEGs
# (baseline and progressive) round-trip exactly through the in-repo codec
# (DC quant error < 0.5 at q90; also proven by the video_frame_sample
# pixel oracle), and an x-gradient PNG has closed-form channel means and
# aHash — so ok/width/height/means/ahash all get an exact DuckDB oracle.
# MD5-of-mask-style internals stay pytest-verified.

_N_PLANTED_IMGS = 120
# gradient gray = 16*x; 8x8 box-resize -> small[i,j] = 32j+8, mean 120,
# bit set iff j >= 4 (margin 16, no float ties); bits[:63] per image_features
_GRAD_AHASH = sum(1 << (8 * i + j) for i in range(8) for j in range(4, 8) if 8 * i + j < 63)


def _planted_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.functions.imaging import encode_image
    from rosreestr_xml_to_gis_converter_spark.functions.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA

    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import spread_input_by

    # size-gated spread: the planted encode loop otherwise runs in the
    # single task holding the parquet's one row group
    docs = spread_input_by(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _N_PLANTED_IMGS)
        .select("doc_id"),
        "doc_id",
    )

    def gen(it):
        grad = np.broadcast_to(
            (np.arange(16, dtype=np.uint8) * 16)[None, :, None], (16, 16, 3)
        ).copy()
        grad_png = encode_image(grad, "png")
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 2 == 0:
                    # flat color decodes EXACTLY (DC-only block) under
                    # both entropy layers, so the closed-form oracle
                    # (mean == c) gates the baseline and progressive
                    # decoders.  Encoders are called directly, not via
                    # encode_image: under SPARK_GRAFT_IMAGE_BACKEND=system
                    # that would emit Pillow bytes, whose fixed-point
                    # YCbCr round-trip can shift flat means by +/-1 and
                    # break the exact oracle
                    c = (d * 13 + 7) % 256
                    arr = np.full((16, 16, 3), c, np.uint8)
                    encode = encode_jpeg_progressive if d % 4 == 2 else encode_jpeg
                    data = encode(arr)
                    fmt = "jpeg"
                else:
                    data, fmt = grad_png, "png"
                rows.append(
                    (f"pimg-{d}", data, 16, 16, fmt, f"planted {d}", d)
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
            )

    return docs.mapInPandas(gen, schema=IMAGES_SCHEMA)


def image_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate_images + image_features over planted fixtures, every
    output value recomputable in SQL (the input_hint per-row invariant —
    decoded-pixel fidelity + caption survival — stated as an oracle)."""
    from rosreestr_xml_to_gis_converter_spark.operators.imaging_ops import (
        image_features,
        validate_images,
    )

    imgs = _planted_images(spark, sf_dir)
    v = validate_images(imgs).select("image_id", "ok", "width", "height", "caption_len")
    f = image_features(imgs)
    return v.join(f, "image_id")


IMAGE_INVARIANTS_SQL = f"""
SELECT 'pimg-' || CAST(doc_id AS VARCHAR) AS image_id,
       TRUE AS ok,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(length('planted ' || CAST(doc_id AS VARCHAR)) AS INT) AS caption_len,
       CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id * 13 + 7) % 256 AS DOUBLE)
            ELSE 120.0 END AS mean_r,
       CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id * 13 + 7) % 256 AS DOUBLE)
            ELSE 120.0 END AS mean_g,
       CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id * 13 + 7) % 256 AS DOUBLE)
            ELSE 120.0 END AS mean_b,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE {_GRAD_AHASH} END AS BIGINT) AS ahash
FROM documents WHERE doc_id < {_N_PLANTED_IMGS}
"""


def image_resize_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize_images through the REAL box-average kernel + PNG re-encode,
    with an exact oracle: resizing the 16x16 x-gradient (gray = 16x + d%16)
    to 8x8 averages column pairs exactly — output pixel (0, j) is
    32j + 8 + d%16, an integer, so the round/clip/encode/decode round
    trip is lossless and SQL states every decoded byte."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.functions.imaging import encode_image
    from rosreestr_xml_to_gis_converter_spark.operators.imaging_ops import resize_images
    from rosreestr_xml_to_gis_converter_spark.schemas import IMAGES_SCHEMA

    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import spread_input_by

    docs = spread_input_by(
        load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id"),
        "doc_id",
    )

    def gen(it):
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                grad = np.broadcast_to(
                    (np.arange(16, dtype=np.uint8) * 16 + d % 16)[None, :, None],
                    (16, 16, 3),
                ).copy()
                rows.append(
                    (f"rimg-{d}", encode_image(grad, "png"), 16, 16, "png", f"r {d}", d)
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
            )

    small = resize_images(docs.mapInPandas(gen, schema=IMAGES_SCHEMA), 8, 8)

    def px_row(it):
        from rosreestr_xml_to_gis_converter_spark.functions.imaging import decode_png

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_png(bytes(r.bytes))
                for j in range(arr.shape[1]):
                    rows.append((r.image_id, r.w, r.h, j, int(arr[0, j, 0])))
            yield pd.DataFrame(rows, columns=["image_id", "w", "h", "j", "v"])

    return small.mapInPandas(px_row, "image_id string, w int, h int, j int, v int")


IMAGE_RESIZE_PLANTED_SQL = """
SELECT 'rimg-' || CAST(doc_id AS VARCHAR) AS image_id,
       CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, CAST(j AS INT) AS j,
       CAST(32 * j + 8 + doc_id % 16 AS INT) AS v
FROM documents, unnest(range(0, 8)) AS t(j)
WHERE doc_id < 100
"""


def image_validate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rosreestr_xml_to_gis_converter_spark.operators.imaging_ops import (
        validate_images,
    )
    from rosreestr_xml_to_gis_converter_spark.synth import gen_images_df

    return validate_images(gen_images_df(spark, seed=42, n=60))


def image_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rosreestr_xml_to_gis_converter_spark.operators.imaging_ops import (
        image_features,
    )
    from rosreestr_xml_to_gis_converter_spark.synth import gen_images_df

    return image_features(gen_images_df(spark, seed=42, n=60))


def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real MJPEG videos (concatenated baseline JPEG frames, synthesized
    deterministically from documents rows) -> every-2nd-frame sample via
    the marker-level seek path; frame indices/dims and the decoded pixel
    value are all recomputable in SQL."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.operators.imaging_ops import (
        encode_mjpeg,
        sample_frames,
    )

    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import spread_input_by

    docs = spread_input_by(
        load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id"),
        "doc_id",
    )

    def gen(it):
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = d % 5 + 3
                frames = np.stack(
                    [
                        np.full((16, 16, 3), (d * 13 + i * 29) % 256, np.uint8)
                        for i in range(n)
                    ]
                )
                rows.append((f"vid-{d}", encode_mjpeg(frames, 90)))
            yield pd.DataFrame(rows, columns=["video_id", "bytes"])

    videos = docs.mapInPandas(gen, "video_id string, bytes binary")
    out = sample_frames(videos, every_k=2)

    # decode the sampled PNG back to prove pixel fidelity (flat frames
    # survive the JPEG round trip exactly)
    def px(it):
        from rosreestr_xml_to_gis_converter_spark.functions.imaging import decode_png

        for pdf in it:
            pdf = pdf.copy()
            pdf["px"] = [int(decode_png(b)[0, 0, 0]) for b in pdf["bytes"]]
            yield pdf[["video_id", "frame_idx", "w", "h", "px"]]

    return out.mapInPandas(px, "video_id string, frame_idx int, w int, h int, px int")


VIDEO_FRAME_SAMPLE_SQL = """
SELECT 'vid-' || CAST(doc_id AS VARCHAR) AS video_id,
       CAST(k AS INT) AS frame_idx, 16 AS w, 16 AS h,
       CAST((doc_id * 13 + k * 29) % 256 AS INT) AS px
FROM documents, unnest(range(0, doc_id % 5 + 3, 2)) AS t(k)
WHERE doc_id < 100
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedupe.exact_dedup(load(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""

_JACCARD_THRESHOLD = 0.12
_NGRAM_DOC_LIMIT = 150  # all-pairs is quadratic; the LSH path is the scale story


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _NGRAM_DOC_LIMIT)
    return dedupe.ngram_jaccard_pairs(d, threshold=_JACCARD_THRESHOLD, k=3)


DEDUP_NGRAM_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words
  FROM documents WHERE doc_id < {_NGRAM_DOC_LIMIT}
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(words) >= 3 THEN
           list_transform(range(1, len(words) - 1),
                          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
           ELSE [] END) AS sh
  FROM w
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= {_JACCARD_THRESHOLD}
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _NGRAM_DOC_LIMIT)
    # 16 hashes keep the generated signature expression small (first-call
    # janino compile dominates otherwise); r=2 rows/band preserves recall
    return dedupe.minhash_lsh_pairs(d, threshold=_JACCARD_THRESHOLD, n_hashes=16, bands=8)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _NGRAM_DOC_LIMIT)
    return dedupe.simhash_near_pairs(d, max_hamming=12)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Organic banded variant (OR-amplified recall at threshold 0.5 —
    the driver corpus's most-similar organic pair sits at cosine 0.513;
    the exact-recall evidence lives in dedup_embedding_planted)."""
    return similarity.embedding_near_dup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.5, dim=64, bands=3
    )


# --- similarity search -------------------------------------------------------

_N_QUERIES = 8
_TOPK = 5


def sim_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.cosine_topk(emb, q, k=_TOPK)


SIM_COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000.0)) AS qv
  FROM embeddings
),
n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS qn FROM e),
q AS (SELECT vec_id AS query_id, qv AS qqv, qn AS qqn FROM n WHERE vec_id < {_N_QUERIES})
SELECT query_id, cand_id, rank, cosine FROM (
  SELECT q.query_id, e2.vec_id AS cand_id,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY list_dot_product(e2.qv, q.qqv) / sqrt(e2.qn * q.qqn) DESC,
                    e2.vec_id ASC) AS rank,
         list_dot_product(e2.qv, q.qqv) / sqrt(e2.qn * q.qqn) AS cosine
  FROM n e2 CROSS JOIN q
  WHERE e2.vec_id <> q.query_id
) WHERE rank <= {_TOPK}
"""


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    return similarity.lsh_topk(emb, q, k=_TOPK, dim=64)


# --- text analysis -----------------------------------------------------------

def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", textops.lang_id(F.col("text")).alias("lang_pred"))


_EN_PAT = r"\b(" + "|".join(textops.EN_STOPWORDS) + r")\b"
_ES_PAT = r"\b(" + "|".join(textops.ES_STOPWORDS) + r")\b"

TEXT_LANGID_SQL = f"""
SELECT doc_id,
       CASE WHEN len(regexp_extract_all(text, '{_EN_PAT}')) > len(regexp_extract_all(text, '{_ES_PAT}'))
             AND len(regexp_extract_all(text, '{_EN_PAT}')) > 0 THEN 'en'
            WHEN len(regexp_extract_all(text, '{_ES_PAT}')) > len(regexp_extract_all(text, '{_EN_PAT}'))
             AND len(regexp_extract_all(text, '{_ES_PAT}')) > 0 THEN 'es'
            ELSE 'xx' END AS lang_pred
FROM documents
"""


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textops.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        textops.token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
    )


TEXT_TOKENS_SQL = rf"""
SELECT doc_id,
       len(string_split_regex(text, '\s+')) AS n_tokens_ws,
       len(regexp_extract_all(text, '{textops.BPE_ISH_PATTERN}')) AS n_tokens_bpe
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", textops.quality_score(F.col("text"), F.col("n_chars")).alias("quality")
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(floor(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1000)
            + floor(CAST(len(regexp_extract_all(text, '{_EN_PAT}')) AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1000)
            + (CASE WHEN n_chars < 100 THEN 0 WHEN n_chars < 1000 THEN 1 ELSE 2 END)
            AS BIGINT) AS quality
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", textops.fingerprint(F.col("text")).alias("fp"))


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(array_to_string(list_transform(string_split(lower(text), ' '),
                                          w -> substr(w, 1, 1)), '')) AS fp
FROM documents
"""


# --- planted-twin recall gates ------------------------------------------------
# The organic LSH queries above can legitimately return ~0 rows on the
# driver's synthetic corpus, which certifies nothing.
# These variants UNION the input with exact twins (id + _TWIN_OFFSET) and
# filter the pair output to the planted ids — banded LSH finds an exact
# twin with certainty (identical signature -> identical band keys), so
# every planted pair MUST surface with similarity exactly 1.0, which
# DuckDB can state directly.  A recall regression breaks the hash match.

_TWIN_OFFSET = 100000


def _with_twins(df: DataFrame, id_col: str) -> DataFrame:
    return df.unionByName(df.withColumn(id_col, F.col(id_col) + _TWIN_OFFSET))


def dedup_minhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _NGRAM_DOC_LIMIT)
        .select("doc_id", "text")
    )
    pairs = dedupe.minhash_lsh_pairs(
        _with_twins(d, "doc_id"), threshold=_JACCARD_THRESHOLD, n_hashes=16, bands=8
    )
    return pairs.filter(
        (F.col("id_b") - F.col("id_a") == _TWIN_OFFSET) & (F.col("id_a") < _TWIN_OFFSET)
    )


DEDUP_MINHASH_PLANTED_SQL = f"""
SELECT doc_id AS id_a, doc_id + {_TWIN_OFFSET} AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
FROM documents
WHERE doc_id < {_NGRAM_DOC_LIMIT}
  AND len(string_split(lower(text), ' ')) >= 3
"""


def dedup_simhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twins share the full 64-bit SimHash, so every chunk-band
    collides and the pair MUST surface with hamming 0 — stated directly
    by the oracle (a banding/recall regression breaks the hash match)."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _NGRAM_DOC_LIMIT)
        .select("doc_id", "text")
    )
    pairs = dedupe.simhash_near_pairs(_with_twins(d, "doc_id"), max_hamming=12)
    return pairs.filter(
        (F.col("id_b") - F.col("id_a") == _TWIN_OFFSET) & (F.col("id_a") < _TWIN_OFFSET)
    )


DEDUP_SIMHASH_PLANTED_SQL = f"""
SELECT doc_id AS id_a, doc_id + {_TWIN_OFFSET} AS id_b, CAST(0 AS INT) AS hamming
FROM documents WHERE doc_id < {_NGRAM_DOC_LIMIT}
"""


def dedup_embedding_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs = similarity.embedding_near_dup_pairs(
        _with_twins(e, "vec_id"), threshold=0.99, dim=64
    )
    return pairs.filter(
        (F.col("id_b") - F.col("id_a") == _TWIN_OFFSET) & (F.col("id_a") < _TWIN_OFFSET)
    )


DEDUP_EMBEDDING_PLANTED_SQL = f"""
SELECT vec_id AS id_a, vec_id + {_TWIN_OFFSET} AS id_b, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings
"""


def sim_ann_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each query's exact twin must surface at rank 1 with cosine 1.0:
    cosine 1.0 strictly dominates every organic candidate, and the twin
    shares the query's full LSH signature, so multi-probe always finds it."""
    emb = _with_twins(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"), "vec_id")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = similarity.lsh_topk(emb, q, k=_TOPK, dim=64)
    return out.filter(F.col("cand_id") == F.col("query_id") + _TWIN_OFFSET)


SIM_ANN_LSH_PLANTED_SQL = f"""
SELECT vec_id AS query_id, vec_id + {_TWIN_OFFSET} AS cand_id,
       CAST(1 AS BIGINT) AS rank, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id < {_N_QUERIES}
"""


def sim_ann_ivf_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means coarse quantizer + probed-cell re-rank): a query's
    exact twin shares its cell and the query's own cell is always probed,
    so the twin MUST surface at rank 1 with cosine exactly 1.0 — stated
    directly by the oracle, independent of the learned centroids."""
    emb = _with_twins(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"), "vec_id")
    cents = similarity.ivf_centroids(emb, n_cells=16, seed=7, max_iter=3)
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = similarity.ivf_topk(emb, q, k=_TOPK, centroids=cents, nprobe=4)
    return out.filter(F.col("cand_id") == F.col("query_id") + _TWIN_OFFSET)


SIM_ANN_IVF_PLANTED_SQL = f"""
SELECT vec_id AS query_id, vec_id + {_TWIN_OFFSET} AS cand_id,
       CAST(1 AS BIGINT) AS rank, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id < {_N_QUERIES}
"""


ENGINE_QUERIES = {
    "cell_encode": cell_encode,
    "cell_rollup": cell_rollup,
    "flagship_spatial_join": flagship_spatial_join,
    "flagship_spatial_join_salted": flagship_spatial_join_salted,
    "flagship_spatial_join_shuffle": flagship_spatial_join_shuffle,
    "knn_parcels": knn_parcels,
    "knn_parcels_brute": knn_parcels_brute,
    "knn_parcels_literal": knn_parcels_literal,
    "knn_uncovered": knn_uncovered,
    "knn_escalated": knn_escalated,
    "checkpoint_lineage": checkpoint_lineage,
    "a1_owner_matrix": a1_owner_matrix,
    "stream_window_counts": stream_window_counts,
    "stream_user_totals": stream_user_totals,
    "stream_lww_winner": stream_lww_winner,
    "stream_neardup_matches": stream_neardup_matches,
    "tile_masks": tile_masks_q,
    "image_invariants": image_invariants,
    "image_resize_planted": image_resize_planted,
    "image_validate": image_validate_q,
    "image_features": image_features_q,
    "video_frame_sample": video_frame_sample,
    "dedup_exact": dedup_exact,
    "dedup_phash_planted": dedup_phash_planted,
    "dedup_cluster_planted": dedup_cluster_planted,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_planted": dedup_minhash_planted,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_planted": dedup_simhash_planted,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_planted": dedup_embedding_planted,
    "sim_ann_cosine": sim_ann_cosine,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_lsh_planted": sim_ann_lsh_planted,
    "sim_ann_ivf_planted": sim_ann_ivf_planted,
    "text_langid": text_langid,
    "text_tokens": text_tokens,
    "text_quality": text_quality,
    "text_fingerprint": text_fingerprint,
}

# non-SQL-expressible ops (custom hashing / engine internals) are omitted
# here on purpose -> driver records the weaker rows-only check for them
ENGINE_ORACLES = {
    "cell_encode": CELL_ENCODE_SQL,
    "cell_rollup": CELL_ROLLUP_SQL,
    "flagship_spatial_join": FLAGSHIP_SQL,
    "flagship_spatial_join_salted": FLAGSHIP_SQL,
    "flagship_spatial_join_shuffle": FLAGSHIP_SQL,
    "knn_parcels": KNN_SQL,
    "knn_parcels_brute": KNN_SQL,
    "knn_parcels_literal": KNN_SQL,
    "knn_uncovered": KNN_UNCOVERED_SQL,
    "knn_escalated": KNN_ESCALATED_SQL,
    "checkpoint_lineage": CHECKPOINT_LINEAGE_SQL,
    "a1_owner_matrix": A1_OWNER_MATRIX_SQL,
    "stream_window_counts": STREAM_WINDOW_SQL,
    "stream_user_totals": STREAM_USER_TOTALS_SQL,
    "stream_lww_winner": STREAM_LWW_WINNER_SQL,
    "stream_neardup_matches": STREAM_NEARDUP_SQL,
    "tile_masks": TILE_MASKS_SQL,
    "image_invariants": IMAGE_INVARIANTS_SQL,
    "image_resize_planted": IMAGE_RESIZE_PLANTED_SQL,
    "video_frame_sample": VIDEO_FRAME_SAMPLE_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_phash_planted": DEDUP_PHASH_PLANTED_SQL,
    "dedup_cluster_planted": DEDUP_CLUSTER_PLANTED_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_minhash_planted": DEDUP_MINHASH_PLANTED_SQL,
    "dedup_simhash_planted": DEDUP_SIMHASH_PLANTED_SQL,
    "dedup_embedding_planted": DEDUP_EMBEDDING_PLANTED_SQL,
    "sim_ann_cosine": SIM_COSINE_SQL,
    "sim_ann_lsh_planted": SIM_ANN_LSH_PLANTED_SQL,
    "sim_ann_ivf_planted": SIM_ANN_IVF_PLANTED_SQL,
    "text_langid": TEXT_LANGID_SQL,
    "text_tokens": TEXT_TOKENS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
}
