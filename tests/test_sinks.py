"""SHP/XLSX export sinks (K1/K2): round-trip parity with the engine's
parquet output (VERDICT round 1, item 9)."""

from __future__ import annotations

import os

import numpy as np

from rosreestr_xml_to_gis_converter_spark.pipeline import export_outputs
from rosreestr_xml_to_gis_converter_spark.sinks import read_shapefile, write_shapefile
from rosreestr_xml_to_gis_converter_spark.sinks.shapefile import REFERENCE_FIELDS
from rosreestr_xml_to_gis_converter_spark.sinks.xlsx import read_xlsx_rows
from rosreestr_xml_to_gis_converter_spark.sources.synth_xml import (
    egrn_right_records,
    kvzu_xml,
    land_record_xml,
)
from rosreestr_xml_to_gis_converter_spark.sources.xml_extract import parse_extracts

SQ = np.array([[10.0, 50.0], [14.0, 50.0], [14.0, 54.0], [10.0, 54.0], [10.0, 50.0]])
HOLE = np.array([[11.0, 51.0], [11.0, 52.0], [12.0, 52.0], [12.0, 51.0], [11.0, 51.0]])


def test_shapefile_writer_roundtrip_exact(tmp_path):
    """Geometry doubles and cp1251 attributes survive write->read
    byte-exactly (format: ESRI Shapefile spec, public)."""
    import datetime

    base = str(tmp_path / "layer")
    attrs = [
        "69:1:2:3", "", "(1)", 1234.56, "обл. Тверская", "Учтенный",
        "Земли лесного фонда", "для с/х", "Иванов Иван", "-", "", "-",
        "прим", datetime.date(2001, 3, 9), datetime.date(2023, 6, 15),
        "", "150000.5", "Земельный участок",
    ]
    n = write_shapefile(base, [([SQ, HOLE], attrs)])
    assert n == 1
    assert {os.path.exists(base + ext) for ext in (".shp", ".shx", ".dbf", ".cpg")} == {True}
    [(rings, got)] = read_shapefile(base)
    assert len(rings) == 2
    np.testing.assert_array_equal(rings[0], SQ)
    np.testing.assert_array_equal(rings[1], HOLE)
    for v, g, (name, t, ln, dec) in zip(attrs, got, REFERENCE_FIELDS):
        if t == "C":
            assert g == str(v), name
        elif t == "N":
            assert g == float(v), name
        else:
            assert g == v.strftime("%Y%m%d"), name


def test_shapefile_default_date_keeps_record_width(tmp_path):
    """The exporter's date(1,1,1) default (main.py:384-393) is written as
    8 digits, so the fields after it and the next record stay aligned."""
    import datetime

    base = str(tmp_path / "layer")
    attrs = [
        "69:1:2:3", "", "", 10.5, "a", "b", "c", "d", "e", "f", "g", "h", "i",
        datetime.date(1, 1, 1), datetime.date(2023, 6, 15), "j", "1.5", "k",
    ]
    second = ["69:1:2:4", *attrs[1:3], 20.0, *attrs[4:]]
    write_shapefile(base, [([SQ], attrs), ([SQ], second)])
    got = [a for _, a in read_shapefile(base)]
    assert got[0][13:15] == ["00010101", "20230615"]
    assert got[0][15:] == ["j", "1.5", "k"]
    assert got[1][0] == "69:1:2:4" and got[1][3] == 20.0


def test_shp_key_split_branches():
    """main.py:394-406: 'CN(n)' splits at the paren, a key without ':'
    is a contour number of the parent, any other key is its own CN."""
    from rosreestr_xml_to_gis_converter_spark.pipeline import _shp_key

    assert _shp_key("50:2:2:2(1)", "50:2:2:2") == ("50:2:2:2", "(1)")
    assert _shp_key("(2)", "50:2:2:2") == ("", "(2)")
    assert _shp_key("3", "69:1:1:1") == ("69:1:1:1", "3")
    assert _shp_key("69:3:3:31", "69:3:3:3") == ("69:3:3:31", "")


def test_export_outputs_end_to_end(spark, tmp_path):
    """XML -> parse -> export: SHP one record per contour with key split
    (main.py:394-406), XLSX one row per object / entry parcel
    (main.py:416-454); re-read equals the parsed layer."""
    docs = [
        (
            "a.xml",
            kvzu_xml(
                "69:1:1:1",
                [SQ],
                rights=[{"code": "001001000000", "owner": "Иванов Иван"}],
                encumbrances=[
                    {"name": "Аренда", "owner": 'ООО "Тест"', "docs": ["Дог 5"], "term": "49 лет"}
                ],
            ),
        ),
        (
            "b.xml",
            land_record_xml(
                "50:2:2:2",
                None,
                contours={"50:2:2:2(1)": [SQ], "50:2:2:2(2)": [SQ + 5.0]},
                right_records=egrn_right_records(
                    [{"type": "Собственность", "holders": [("legal", "ООО Луг", "771")]}]
                ),
            ),
        ),
        (
            "c.xml",
            kvzu_xml(
                "69:3:3:3", None, entry_rings={"69:3:3:31": [SQ], "69:3:3:32": [SQ + 2.0]}
            ),
        ),
    ]
    files = spark.createDataFrame(
        [(n, bytearray(x.encode())) for n, x in docs], "path string, content binary"
    )
    out = str(tmp_path / "exp")
    res = export_outputs(parse_extracts(files), out)
    assert res == {"n_shp_records": 5, "n_xlsx_rows": 4}

    recs = read_shapefile(os.path.join(out, "real_estate_objects_EGRN"))
    by_key = {(a[0], a[2]): (rings, a) for rings, a in recs}
    # multi-contour land_record: 2 records, same CN, split NumOfCont
    assert ("50:2:2:2", "(1)") in by_key and ("50:2:2:2", "(2)") in by_key
    # the parser normalizes outer-ring orientation (real_estate.py:764-780):
    # a CCW input ring is reversed, so the exported ring is SQ reversed
    np.testing.assert_array_equal(by_key[("50:2:2:2", "(1)")][0][0], SQ[::-1])
    # entry parcels: parent CN carried, own geometry
    rings_31, attrs_31 = by_key[("69:3:3:31", "")]
    assert attrs_31[1] == "69:3:3:3"
    # simple parcel: parent blank when equal (main.py:400-404)
    assert by_key[("69:1:1:1", "")][1][1] == ""
    assert by_key[("69:1:1:1", "")][1][8] == "Собственность Иванов Иван"
    # round 4: the J column applies the reference's normalization pass —
    # unquoted entries under 4 words are dropped (:607-617), quoted org
    # names pass through verbatim
    assert by_key[("69:1:1:1", "")][1][10] == 'Аренда ООО "Тест"'

    rows = read_xlsx_rows(os.path.join(out, "real_estate_objects_EGRN.xlsx"))
    assert rows[0][0] == "Кадастровый номер"
    data = {r[0]: r for r in rows[1:]}
    assert data["69:1:1:1"][1] == "-"
    assert data["69:3:3:31"][1] == "69:3:3:3"  # parent CN in column B
    assert data["69:3:3:32"][1] == "69:3:3:3"
    assert data["50:2:2:2"][7] == "Собственность ООО Луг ИНН: 771"


def test_xlsx_row_xml_nonfinite_and_control_chars():
    """ADVICE r2: nan/inf must not land in a numeric <v> (Excel rejects
    the workbook); XML-invalid control chars must be stripped, not passed
    through escape()."""
    from rosreestr_xml_to_gis_converter_spark.sinks.xlsx import _row_xml

    xml = _row_xml(1, [float("nan"), float("inf"), 1.5, "a\x0bb"])
    assert "<v>nan</v>" not in xml and "<v>inf</v>" not in xml
    assert '<c r="A1" t="inlineStr"><is><t>nan</t></is></c>' in xml
    assert "<v>1.5</v>" in xml
    assert "<t>ab</t>" in xml  # \x0b stripped


def test_dbf_numeric_overflow_raises():
    """ADVICE r2: 'N' used to truncate from the left, silently dropping the
    sign/most-significant digits."""
    import pytest

    from rosreestr_xml_to_gis_converter_spark.sinks.shapefile import _dbf_value

    assert _dbf_value(12.5, "N", 10, 1, "cp1251") == b"      12.5"
    with pytest.raises(ValueError, match="does not fit"):
        _dbf_value(-123456.7, "N", 6, 1, "cp1251")
