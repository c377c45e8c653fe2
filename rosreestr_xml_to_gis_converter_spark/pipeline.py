"""End-to-end pipelines — the engine's analog of the reference's entry
points (SURVEY.md section 3).

EP1 ``start_conv`` (reference main.py:227-483) becomes composable
DataFrame stages:

  build_parcel_layer  : XML extracts -> parcels + error bucket
  finalize_attributes : classifier codes -> the reference's output strings
  contours_of         : parcels -> one row per contour (the cover input)
  export_outputs      : one per-document pass -> SHP (K1) + XLSX (K2)
  convert_extracts    : parse -> cover -> spatial join + tile masks ->
                        checkpointed, resumable table writes

``convert_extracts`` returns the reference's final report (ok /
unsupported counts + wall seconds, main.py:471-483) as data instead of a
message box.  ``rename_plan`` is EP2 (``rename_xml``).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rosreestr_xml_to_gis_converter_spark import sinks
from rosreestr_xml_to_gis_converter_spark.checkpoint import CheckpointedWriter
from rosreestr_xml_to_gis_converter_spark.classifiers import (
    LAND_CATEGORY,
    REGION,
    RIGHT,
    STATUS,
    UTILIZATION,
    label_map,
)
from rosreestr_xml_to_gis_converter_spark.functions.geometry import unpack_rings
from rosreestr_xml_to_gis_converter_spark.operators.attrs import (
    is_egrn,
    owner_column,
    owner_row,
    with_rights_strings,
)
from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import (
    build_parcel_cover,
    spatial_join,
)
from rosreestr_xml_to_gis_converter_spark.operators.tiling import tile_masks
from rosreestr_xml_to_gis_converter_spark.sources.xml_extract import parse_extracts
from rosreestr_xml_to_gis_converter_spark.synth import GeoBox


def build_parcel_layer(files: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(path, content) XML rows -> (parcels, errors)."""
    rows = parse_extracts(files)
    errors = rows.filter(F.col("error").isNotNull()).select("doc_id", "error")
    parcels = rows.filter(F.col("error").isNull())
    return parcels, errors


def rename_plan(parcels: DataFrame, order_col: str = "doc_id") -> DataFrame:
    """EP2 (``rename_xml``, /root/reference/main.py:177-225) as a
    declarative transform: derived file name
    ``{cad ':'->'-'}---{extract_date '.'->'-'}.xml`` with the reference's
    `` (2)``..`` (n)`` collision suffixes (the reference probes the
    filesystem serially; a window rank is the distributed equivalent).
    Unsupported documents (error rows) get no new name, mirroring the
    reference's skip counter."""
    key = F.concat(
        F.regexp_replace(F.coalesce("cad_number", F.lit("")), ":", "-"),
        F.lit("---"),
        F.regexp_replace(F.coalesce("extract_date", F.lit("")), r"\.", "-"),
    )
    w = Window.partitionBy(key).orderBy(order_col)
    rn = F.row_number().over(w)
    new_name = F.when(
        F.col("error").isNotNull(), F.lit(None).cast("string")
    ).otherwise(
        F.when(rn == 1, F.concat(key, F.lit(".xml"))).otherwise(
            F.concat(key, F.lit(" ("), rn.cast("string"), F.lit(")"), F.lit(".xml"))
        )
    )
    return parcels.select(
        F.col("doc_id").alias("path"), new_name.alias("new_name")
    )


def owner_rows() -> Column:
    """The parsed ``rights`` array as the document-ordered
    ``owner_row`` array the owner tree reads (operators/attrs.py).  KVZU
    rights carry codes, resolved against the RIGHT classifier
    (real_estate.py:208); EGRN rights carry the label text already
    (real_estate.py:1094-1096).

    ``pos`` is the element's index in ``rights``, i.e. XML DOCUMENT
    ORDER — the owner tree's positional pairings and the last-right's-type
    gate depend on it; ``rec_first`` marks the first row of each right
    record (shares/types count per record).  Null when ``rights`` is."""
    right_map = label_map(RIGHT)
    return F.transform(
        "rights",
        lambda r, i: owner_row(
            i,
            F.coalesce(r["right_type"], F.element_at(right_map, r["right_code"])),
            r["owner"],
            r["share_den"],
            r["share_text"],
            r["share_num"],
            F.coalesce(r["rec_first"], F.lit(True)),
        ),
    )


def rights_table(parcels: DataFrame) -> DataFrame:
    """Parcel rows -> normalized per-right rows for ``owner_summary``:
    :func:`owner_rows` exploded, plus ``is_egrn``, which routes the
    document to the reference's separate EGRN owner tree
    (real_estate.py:1076-1239)."""
    r = F.col("r")
    return parcels.select(
        "doc_id", is_egrn(parcels).alias("is_egrn"), F.explode(owner_rows()).alias("r")
    ).select(
        "doc_id",
        r["rt"].alias("right_type"),
        r["owner"].alias("owner"),
        r["num"].alias("share_num"),
        r["den"].alias("share_den"),
        r["txt"].alias("share_text"),
        r["pos"].alias("pos"),
        r["rf"].alias("rec_first"),
        "is_egrn",
    )


_CLEANUP = r"^\s+|\n|\r|\s+$"  # main.py:356-367


def finalize_attributes(parcels: DataFrame) -> DataFrame:
    """Resolve classifier codes to the reference's output strings — the
    J1 classifier lookups plus the coalesce fallback chains:

    * status: EGRN text, else the STATUS classifier on the State code
      (real_estate.py:123-133, :1019-1026);
    * category: LAND_CATEGORY on the code, missing code -> the default
      code 003008000000's label (:875-886); OCC stub '-' passes through;
    * permitted_use: ByDoc text, else UTILIZATION code label, else '-'
      (:888-902);
    * address: Note, else region-classifier + district + locality
      fallback concatenation (:824-858).

    All pure Column expressions over literal classifier maps (the
    reference re-reads the CSVs per object, real_estate.py:32-37).
    """

    def label(mapping: dict[str, str], code: str) -> Column:
        return F.element_at(label_map(mapping), F.col(code))

    # staged once: the address chain reads it up to six times
    p = parcels.withColumn("_region_label", label(REGION, "region_code"))
    region_label = F.col("_region_label")
    district = F.concat_ws(" ", F.col("district_name"), F.col("district_type"))
    locality = F.concat_ws(" ", F.col("locality_type"), F.col("locality_name"))
    # OCC long-tail fallback (real_estate.py:1721-1753): region label (or
    # the reference's leading-'' quirk) + ', part' for each present part
    occ_tail = F.when(
        F.col("address_parts").isNotNull(),
        F.concat(
            F.coalesce(region_label, F.lit("")),
            F.aggregate(
                F.col("address_parts"),
                F.lit(""),
                lambda acc, p: F.concat(acc, F.lit(", "), p),
            ),
        ),
    )
    addr_fallback = F.coalesce(
        occ_tail,
        F.when(
            region_label.isNotNull()
            & F.col("district_name").isNotNull()
            & F.col("locality_name").isNotNull(),
            F.concat_ws(", ", region_label, district, locality),
        )
        .when(
            region_label.isNotNull() & F.col("district_name").isNotNull(),
            F.concat_ws(", ", region_label, district),
        )
        .when(region_label.isNotNull(), region_label)
        .otherwise(F.lit(""))
    )
    address = F.coalesce(
        F.when(F.col("address_note") != "", F.col("address_note")), addr_fallback
    )
    clean = lambda c: F.regexp_replace(c, _CLEANUP, "")  # noqa: E731
    return (
        p.withColumn(
            "status", clean(F.coalesce("status", label(STATUS, "status_code"), F.lit("-")))
        )
        .withColumn(
            "category",
            F.when(F.col("category_code") == "-", F.lit("-")).otherwise(
                F.coalesce(
                    label(LAND_CATEGORY, "category_code"),
                    F.lit(LAND_CATEGORY["003008000000"]),
                )
            ),
        )
        .withColumn(
            "permitted_use",
            clean(
                F.coalesce(
                    "permitted_use_by_doc",
                    label(UTILIZATION, "permitted_use_code"),
                    F.lit("-"),
                )
            ),
        )
        .withColumn("address", clean(address))
        .drop("_region_label")
    )


def explode_entry_parcels(parcels: DataFrame) -> DataFrame:
    """Composite parcels -> one attribute row per entry parcel, parent CN
    carried; simple parcels get a single row with '-'
    (/root/reference/main.py:416-454)."""
    exploded = F.explode_outer("entry_parcels").alias("entry_cad_number")
    return parcels.select(
        "doc_id",
        "cad_number",
        exploded,
    ).select(
        "doc_id",
        F.coalesce(F.col("entry_cad_number"), F.col("cad_number")).alias("cad_number"),
        F.when(
            F.col("entry_cad_number").isNotNull(), F.col("cad_number")
        ).otherwise(F.lit("-")).alias("parent_cad_number"),
    )


def contours_of(parcels: DataFrame) -> DataFrame:
    """One row per contour — entry-parcel CN, 'parent(NumberRecord)', or
    cad_number/number_pp/parent keys (real_estate.py:939-951,
    :1612-1635); the reference writes one SHP record per contour
    (main.py:382-406)."""
    return parcels.select(
        "doc_id",
        F.col("cad_number").alias("parent_cad_number"),
        F.explode("contours").alias("c"),
    ).select(
        F.col("c.geom_key").alias("geom_key"),
        "doc_id",
        F.col("c.geom").alias("geom"),
        "parent_cad_number",
    )


def _ru_date(s: str | None):
    """dd.mm.yyyy -> datetime.date with the (1,1,1) default
    (main.py:384-393)."""
    import datetime

    if not s:
        return datetime.date(1, 1, 1)
    d, m, y = s.split(".")
    return datetime.date(int(y), int(m), int(d))


def _shp_key(key: str | None, parent: str | None) -> tuple[str | None, str]:
    """A contour key -> (CadNumber, NumOfCont), the reference's
    key-splitting branches (main.py:394-406): 'CN(n)' splits at the
    paren, a key without ':' is a contour number of the parent, any other
    key is its own CN."""
    if key is None:
        return None, ""
    paren = key.find("(")
    if paren >= 0:
        return key[:paren], key[paren:]
    if ":" not in key:
        return parent, key
    return key, ""


def document_rows(parcels: DataFrame) -> DataFrame:
    """Parsed parcels -> one export row per document: ``cad_number``,
    ``entry_parcels``, ``contours`` and the reference's 15 shared
    attribute columns, ``owner`` included (main.py:379-454).  Every
    column is a per-row expression over the document's own row, so the
    plan has no join and no exchange."""
    p = with_rights_strings(finalize_attributes(parcels))
    owner = owner_column(owner_rows(), is_egrn(p), F.col("category"), F.col("district_name"))
    return p.select(
        "cad_number",
        "entry_parcels",
        "contours",
        "area",
        "address",
        "status",
        "category",
        "permitted_use",
        F.coalesce(owner, F.lit("")).alias("owner"),
        "own_name_reg_numb_date",
        "encumbrances_str",
        "enc_name_reg_numb_date_duration",
        F.coalesce(F.regexp_replace("special_notes", _CLEANUP, ""), F.lit("")).alias(
            "special"
        ),
        "date_reg",
        "extract_date",
        F.coalesce(F.array_join("estate_objects", ", "), F.lit("")).alias(
            "estate_objects_str"
        ),
        F.coalesce("cadastral_cost", F.lit("")).alias("cadastral_cost"),
        "obj_type",
    )


def export_outputs(parcels: DataFrame, out_dir: str, base_name: str = "real_estate_objects_EGRN") -> dict:
    """Final-mile export: SHP (K1) + XLSX (K2) from the parsed layer —
    the reference's two sinks (main.py:250-342).  :func:`document_rows`
    is collected in one job (every record of both sinks is gathered before
    either writes, so streaming would not bound the driver's memory), and
    the loop below expands each document into its XLSX rows (one per
    object, or one per entry parcel with the parent CN in column B,
    main.py:416-454) and its SHP records (one per contour, key split by
    :func:`_shp_key`, parent CN blanked when equal, main.py:394-406).  The
    export is final-mile; the engine sink stays parquet/Iceberg."""
    os.makedirs(out_dir, exist_ok=True)
    shp, xlsx = [], []
    for r in document_rows(parcels).collect():
        cad, common = r.cad_number, list(r[3:])  # the 15 shared columns, XLSX order
        for entry in r.entry_parcels or [None]:
            if entry is None:
                xlsx.append([cad, "-", *common])
            else:
                xlsx.append([entry, cad, *common])
        for c in r.contours or []:
            if c.geom is None:
                continue
            shp_cad, num_of_cont = _shp_key(c.geom_key, cad)
            parent = "" if cad is not None and cad == shp_cad else cad
            # the same columns, with Area as a number and the two dates
            # as dates
            attrs = [
                shp_cad, parent, num_of_cont, float(r.area) if r.area else 0.0,
                *common[1:10], _ru_date(r.date_reg), _ru_date(r.extract_date), *common[12:],
            ]
            shp.append((unpack_rings(c.geom), attrs))
    n_shp = sinks.write_shapefile(os.path.join(out_dir, base_name), shp)
    n_xlsx = sinks.write_xlsx(os.path.join(out_dir, base_name + ".xlsx"), xlsx)
    return {"n_shp_records": n_shp, "n_xlsx_rows": n_xlsx}


def convert_extracts(
    spark: SparkSession,
    files: DataFrame,
    images: DataFrame,
    box: GeoBox,
    out_dir: str,
    res: int = 12,
    tile_px: int = 32,
    run_id: str = "run1",
    n_buckets: int = 16,
) -> dict:
    """Full EP1-analog run: parse -> index -> join -> tile -> checkpointed
    writes.  Resumable: rerunning with the same ``out_dir``/``run_id``
    skips completed buckets (checkpoint.py)."""
    t0 = time.time()
    parcels, errors = build_parcel_layer(files)
    parcels = parcels.cache()
    cover = build_parcel_cover(spark, contours_of(parcels), res).cache()

    joined = spatial_join(images, cover, box)
    tiles = tile_masks(cover, px=tile_px)

    w_join = CheckpointedWriter(spark, f"{out_dir}/join", run_id)
    w_join.write(joined, "cad_number", n_buckets)
    w_tiles = CheckpointedWriter(spark, f"{out_dir}/tiles", run_id)
    w_tiles.write(tiles, "cad_number", n_buckets)
    # the attrs table carries the reference's FINAL strings (status/
    # category/permitted_use/address resolved via the shipped classifier
    # maps), not raw codes — a user of the reference reads this table
    # like the XLSX output
    finalize_attributes(parcels).drop("geom", "contours").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/parcels_attrs")
    errors.write.mode("overwrite").parquet(f"{out_dir}/errors")

    summary = {
        "n_parcels": parcels.count(),
        "n_errors": errors.count(),
        "n_join_rows": w_join.read().count(),
        "n_tiles": w_tiles.read().count(),
        "secs": max(1, int(time.time() - t0)),  # 1-second floor like main.py:474-475
        "run_id": run_id,
    }
    parcels.unpersist()
    cover.unpersist()
    return summary
