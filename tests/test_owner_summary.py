"""Owner-aggregation matrix golden tests — one fixture per reference
branch of real_estate.py:183-452 and the separate EGRN tree :1076-1239,
including the list_doli_ga (hectare-text share) sub-branches and the
reference's quirks (no-space concat :410-411, IndexError fall-throughs
:421-422, the joint-branch cell_owner append :432-436, the EGRN
positional pairing :1208-1219 and its 'another'-holder shift).

The randomized parity test compares the Spark implementation against a
sequential mirror written FROM THE REFERENCE'S CODE (document-ordered
lists, positional indexing, running type variable) — not from the Spark
semantics — so reference-fidelity drift fails the test (round-3 ADVICE).

Every fixture runs twice: through ``owner_summary`` over the rights
table, and through the per-row path the export runs
(``pipeline.owner_rows`` -> ``owner_column`` over one document's parsed
``rights`` array); :func:`_owners` asserts both give the same strings."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from rosreestr_xml_to_gis_converter_spark.operators.attrs import (
    is_egrn,
    owner_column,
    owner_summary,
)
from rosreestr_xml_to_gis_converter_spark.pipeline import owner_rows

SH = "Долевая собственность"
JT = "Совместная собственность"
EG = "Общая долевая собственность"
MISSING = "ДАННЫЕ О ПРАВООБЛАДАТЕЛЕ ОТСУТСТВУЮТ"
ADM = "Администрация Калининского района"


def _run(spark, rights_rows, parcels_rows):
    """rights_rows: (doc_id, right_type, owner, share_den, share_text) in
    DOCUMENT ORDER — pos is the per-doc row index, as rights_table
    derives it from the parsed array."""
    seen: dict = {}
    with_pos = []
    for row in rights_rows:
        p = seen.get(row[0], 0)
        seen[row[0]] = p + 1
        # the parse always fills share_num alongside a numeric share_text
        num = row[4].split("/")[0] if row[4] and "/" in row[4] and row[3] else None
        with_pos.append((*row, num, p))
    rights = spark.createDataFrame(
        pd.DataFrame(
            with_pos,
            columns=["doc_id", "right_type", "owner", "share_den", "share_text",
                     "share_num", "pos"],
        ),
        schema="doc_id string, right_type string, owner string, "
        "share_den long, share_text string, share_num string, pos long",
    )
    parcels = spark.createDataFrame(
        pd.DataFrame(parcels_rows, columns=["doc_id", "category", "district_name"]),
        schema="doc_id string, category string, district_name string",
    )
    return _owners(spark, rights, parcels)


PARSED_RIGHTS = (
    "array<struct<right_code:string,right_type:string,owner:string,share_num:string,"
    "share_den:string,share_text:string,rec_first:boolean>>"
)


def _owners(spark, rights, parcels):
    """doc_id -> owner from ``owner_summary(rights, parcels)``, asserted
    equal to the per-row path over the same rows regrouped per document
    as a parsed ``rights`` array in ``pos`` order (null for a document
    without rows).  The EGRN flag follows owner_summary's rule:
    ``is_egrn`` when given, else any row carrying the EGRN shared label;
    the per-row side gets it as a land_record ``source_schema``."""
    via_table = {r.doc_id: r.owner for r in owner_summary(rights, parcels).collect()}
    docs: dict = {}
    for r in rights.collect():
        docs.setdefault(r.doc_id, []).append(r.asDict())
    per_doc = []
    for p in parcels.collect():
        rows = sorted(docs.get(p.doc_id, []), key=lambda d: d.get("pos") or 0)
        if "is_egrn" in rights.columns:
            egrn = any(d["is_egrn"] for d in rows)
        else:
            egrn = any(d["right_type"] == EG for d in rows)
        parsed = [
            (None, d["right_type"], d["owner"], d.get("share_num"),
             None if d["share_den"] is None else str(d["share_den"]),
             d.get("share_text"), d.get("rec_first", True))
            for d in rows
        ]
        per_doc.append((p.doc_id, p.category, p.district_name,
                        "land_record" if egrn else "kvzu", parsed or None))
    df = spark.createDataFrame(
        per_doc,
        schema="doc_id string, category string, district_name string, "
        f"source_schema string, rights {PARSED_RIGHTS}",
    )
    owner = owner_column(owner_rows(), is_egrn(df), F.col("category"), F.col("district_name"))
    via_row = {r.doc_id: r.owner for r in df.select("doc_id", owner.alias("owner")).collect()}
    assert via_row == via_table
    return via_table


def _parcels(ids, category="Земли населённых пунктов", district="Калининский"):
    return [(d, category, district) for d in ids]


def test_numeric_share_branches(spark):
    """B1 + B3a-e (real_estate.py:382-386, 404-422)."""
    rights = [
        # B1: exactly one right row, one owner -> RAW owner (:383-386)
        ("b1", SH, "ИВАНОВ ИВАН", 2, "1/2"),
        # B3e: two owner rows, two numeric shares -> 'type: d1 N1, d2 N2'
        ("b3e", SH, "Иванов Иван", 150, "1/150"),
        ("b3e", SH, "Петров Пётр", 150, "2/150"),
        # B3c: >2 owner rows with shares -> count text
        ("b3c", SH, "Иванов Иван", 300, "1/300"),
        ("b3c", SH, "Петров Пётр", 300, "2/300"),
        ("b3c", SH, "Сидоров Олег", 300, "3/300"),
        # B3b: 1 distinct owner over 2 rows -> no-space quirk (:410-411)
        ("b3b", SH, "ИВАНОВ ИВАН", 5, "1/5"),
        ("b3b", SH, "Иванов Иван", 5, "2/5"),
        # B3b overflow: 1 distinct owner over 3 rows -> reference
        # IndexError (list_dolevikov_new built only for <3 rows) -> ''
        ("b3x", SH, "Иванов Иван", 7, "1/7"),
        ("b3x", SH, "Иванов Иван", 7, "2/7"),
        ("b3x", SH, "Иванов Иван", 7, "3/7"),
        # B3a: the missing-owner marker
        ("b3a", SH, MISSING, 9, "1/9"),
        ("b3a", SH, MISSING, 9, "2/9"),
        # proportional share texts contribute no share (:210-214)
        ("bp", SH, "Иванов Иван", None, "пропорционально размеру общей площади"),
        ("bp", SH, "Петров Пётр", None, "пропорционально размеру общей площади"),
    ]
    got = _run(spark, rights, _parcels(["b1", "b3e", "b3c", "b3b", "b3x", "b3a", "bp"]))
    assert got["b1"] == f"{SH} ИВАНОВ ИВАН"  # raw, not initcap'd
    assert got["b3e"] == f"{SH}: 1/150 Иванов Иван, 2/150 Петров Пётр"
    assert got["b3c"] == f"{SH} (300 долей; 3 правообладателей)"
    assert got["b3b"] == f"{SH} (5 долей)Иванов Иван"
    assert got["b3x"] == ""
    assert got["b3a"] == f"{SH} (9 долей; данные о правообладателях отсутствуют)"
    # no usable shares and 2 owners -> the :423-425 count fall-through
    assert got["bp"] == f"{SH} (2 правообладателей)"


def test_positional_share_owner_pairing(spark):
    """B3e pairs doli_two_persons[i] with list_dolevikov_new[i]
    POSITIONALLY (:419-421) — even when the share sits on a different row
    than its owner (a share-less owner row between two share rows)."""
    rights = [
        ("px", SH, "Петров Пётр", 150, "1/150"),
        ("px", SH, "Иванов Иван", None, None),  # owner row without a share
    ]
    got = _run(spark, rights, _parcels(["px"]))
    # doli_two_persons = ['1/150'], list_dolevikov = [ПЕТРОВ, ИВАНОВ]:
    # len==2 -> else-branch needs dtp[1] -> reference IndexError -> ''
    assert got["px"] == ""


def test_doli_ga_branches(spark):
    """B2a-e — the hectare-text share sub-branches (real_estate.py:387-402)."""
    rights = [
        # B2a: all shares ga, <=2 owner rows -> 'type ga1 o1, ga2 o2'
        ("g2a", SH, "Иванов Иван", None, "10 га"),
        ("g2a", SH, "Петров Пётр", None, "12 га"),
        # B2b: all shares ga, >2 owner rows -> count text
        ("g2b", SH, "Иванов Иван", None, "1 га"),
        ("g2b", SH, "Петров Пётр", None, "2 га"),
        ("g2b", SH, "Сидоров Олег", None, "3 га"),
        # B2c (>2 distinct): ga + numeric mixed -> 'долей; N' text
        ("g2c", SH, "Иванов Иван", None, "10 га"),
        ("g2c", SH, "Петров Пётр", 40, "1/40"),
        ("g2c", SH, "Сидоров Олег", 40, "2/40"),
        ("g2c", SH, "Андреев Юрий", None, None),
        # B2c (2 distinct over 3 rows): list_dolevikov_new is EMPTY for
        # >2 rows (:358-361), so the join collapses -> 'type  (D долей)'
        ("g2c2", SH, "Иванов Иван", None, "10 га"),
        ("g2c2", SH, "Петров Пётр", 25, "1/25"),
        ("g2c2", SH, "Иванов Иван", None, None),
        # B2c (2 distinct over 2 rows): the populated-name variant
        ("g2c3", SH, "ИВАНОВ ИВАН", None, "10 га"),
        ("g2c3", SH, "Петров Пётр", 25, "1/25"),
        # B2d: ga rows + share-less rows, >2 distinct owners
        ("g2d", SH, "Иванов Иван", None, "10 га"),
        ("g2d", SH, "Петров Пётр", None, None),
        ("g2d", SH, "Сидоров Олег", None, None),
        ("g2d", SH, "Андреев Юрий", None, None),
        # B2e: ga rows + share-less rows, <=2 distinct owners -> upper set
        ("g2e", SH, "Иванов Иван", None, "10 га"),
        ("g2e", SH, "Петров Пётр", None, None),
    ]
    got = _run(
        spark, rights, _parcels(["g2a", "g2b", "g2c", "g2c2", "g2c3", "g2d", "g2e"])
    )
    assert got["g2a"] == f"{SH} 10 га Иванов Иван, 12 га Петров Пётр"
    assert got["g2b"] == f"{SH} (3 правообладателей)"
    assert got["g2c"] == f"{SH} (40 долей; 4 правообладателей)"
    assert got["g2c2"] == f"{SH}  (25 долей)"  # empty-join double-space quirk
    assert got["g2c3"] == f"{SH} Иванов Иван, Петров Пётр (25 долей)"
    assert got["g2d"] == f"{SH} (4 правообладателей)"
    assert got["g2e"] == f"{SH} (ИВАНОВ ИВАН, ПЕТРОВ ПЁТР)"


def test_joint_plain_and_defaults(spark):
    rights = [
        # joint ownership: the reference's nested re-scan collects the
        # joint owners once per joint record (here 2 records -> each name
        # twice, :228-249), and the joint branch APPENDS ', ' +
        # join(cell_owner) because list_sovm_sobsv != list_owner
        # (:432-434); cell_owner is empty -> the district default rides in
        ("d6", JT, "Иванов Иван", None, None),
        ("d6", JT, "Иванова Анна", None, None),
        # plain ownership pairs
        ("d7", "Собственность", 'ООО "Ромашка"', None, None),
        # B4: shared right rows with zero owners -> bare type (:426-431)
        ("d11", SH, None, None, None),
    ]
    parcels = _parcels(["d6", "d7", "d11"]) + [
        ("d8", "Земли лесного фонда", "Калининский"),  # no rights
        ("d9", "Земли населённых пунктов", "Калининский"),  # adm fallback -ий
        ("d10", "Земли населённых пунктов", "Лесной"),  # adm fallback -ой
    ]
    got = _run(spark, rights, parcels)
    assert got["d6"] == (
        f"{JT} Иванов Иван, Иванова Анна, Иванов Иван, Иванова Анна, {ADM}"
    )
    assert got["d7"] == 'Собственность ООО "Ромашка"'
    assert got["d11"] == SH
    assert got["d8"] == "Собственность РФ"  # forest fund default
    assert got["d9"] == ADM
    assert got["d10"] == "Администрация Лесного района"


def test_single_joint_record_keeps_one_copy(spark):
    """One joint record with two owners -> names once, then the
    cell_owner append (district default here)."""
    rights_pdf = pd.DataFrame(
        [("j1", JT, "Иванов Иван", None, None, 0, True),
         ("j1", JT, "Иванова Анна", None, None, 1, False)],
        columns=["doc_id", "right_type", "owner", "share_den", "share_text",
                 "pos", "rec_first"],
    )
    import pyspark.sql.functions as F  # noqa: F401

    rights = _spark_df(sparkify=rights_pdf, spark=spark)
    parcels = spark.createDataFrame(
        pd.DataFrame([("j1", "Прочее", "Калининский")],
                     columns=["doc_id", "category", "district_name"])
    )
    got = _owners(spark, rights, parcels)
    assert got["j1"] == f"{JT} Иванов Иван, Иванова Анна, {ADM}"


def _spark_df(sparkify, spark):
    return spark.createDataFrame(
        sparkify,
        schema="doc_id string, right_type string, owner string, "
        "share_den long, share_text string, pos long, rec_first boolean",
    )


def test_vse_doli_u_odnogo_branch(spark):
    """Gate type is NOT shared but numeric shares exist (:440-449): one
    person holds every share + a servitude-like extra right."""
    rights = [
        # два shared-права + завершающее обычное право -> gate != SHARED
        ("v1", SH, "ИВАНОВ ИВАН", 4, "1/4"),
        ("v1", SH, "ИВАНОВ ИВАН", 4, "3/4"),
        ("v1", "Собственность", "Петров Пётр", None, None),
        # >2 доли -> the double-space count text (:441-443)
        ("v2", SH, "Иванов Иван", 8, "1/8"),
        ("v2", SH, "Иванов Иван", 8, "3/8"),
        ("v2", SH, "Иванов Иван", 8, "4/8"),
        ("v2", "Собственность", "Петров Пётр", None, None),
    ]
    got = _run(spark, rights, _parcels(["v1", "v2"]))
    # v1: entries pair dtp[i] with list_owner[dtp.index(dtp[i])] -> raw
    # list_owner (includes the non-shared owner at the tail); dopzap fires
    # because len(list_owner) == len(dtp) + 1
    assert got["v1"] == (
        f"{SH} 1/4 Иванов Иван, {SH} 3/4 Иванов Иван, {SH} Петров Пётр"
    )
    # set_dolevikov spans ALL non-joint owners, incl. the servitude row's
    assert got["v2"] == f"{SH}  (8 долей; 2 правообладателей)"


def test_water_fund_default_and_empty(spark):
    got = _run(
        spark,
        [("dx", SH, "X", 1, "1/1")],
        [("dw", "Земли водного фонда", "Калининский"), ("dn", "Прочее", "123")],
    )
    assert got["dw"] == "Собственность РФ"
    assert got["dn"] == ""  # no declension match -> empty owner


def test_share_text_column_optional(spark):
    """Extracts carrying only Share attrs (no ShareText) still aggregate."""
    rights = spark.createDataFrame(
        pd.DataFrame(
            [("d1", SH, "Иванов Иван", 4)],
            columns=["doc_id", "right_type", "owner", "share_den"],
        ),
        schema="doc_id string, right_type string, owner string, share_den long",
    )
    parcels = spark.createDataFrame(
        pd.DataFrame(
            [("d1", "Прочее", "Калининский")],
            columns=["doc_id", "category", "district_name"],
        )
    )
    got = _owners(spark, rights, parcels)
    assert got["d1"] == f"{SH} Иванов Иван"


# --- randomized parity vs a sequential mirror --------------------------------


def _py_initcap(s):
    """Spark initcap: capitalize the first letter of each
    whitespace-delimited word, lowercase the rest."""
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.split(" "))


def _owner_reference_kvzu(rows, category, district):
    """Sequential transcription of real_estate.py:183-452 over
    document-ordered (rt, owner, den, text) rows (each row = one right
    record with one owner, matching the fixture generator)."""
    def prop(t):
        return t is not None and "пропорциональн" in t

    list_type_sobstv, list_owner = [], []
    list_dolei, doli_two_persons, list_doli_ga = [], [], []
    list_sovm = []
    type_sobstv = None
    for rt, owner, den, text in rows:
        if rt is not None:
            type_sobstv = rt
            if rt == JT:
                # nested re-scan: ALL joint owners, once per joint record
                list_sovm.extend(
                    o for r2, o, _, _ in rows if r2 == JT and o is not None
                )
            else:
                list_type_sobstv.append(rt)
                if rt == SH and not prop(text):
                    if den is not None:
                        list_dolei.append(den)
                        doli_two_persons.append(text)
                    elif text is not None:
                        list_doli_ga.append(text)
        if owner is not None and rt is not None and rt != JT:
            list_owner.append(owner)

    set_dolevikov, list_dolevikov, ldn = set(), [], []
    for o in list_owner:
        u = o.upper()
        set_dolevikov.add(u)
        list_dolevikov.append(u)
    if 0 < len(list_dolevikov) < 3:
        ldn = [_py_initcap(u) for u in list_dolevikov]

    cell_owner = []
    if len(list_type_sobstv) == len(list_owner):
        cell_owner = [t + " " + o for t, o in zip(list_type_sobstv, list_owner)]
    elif list_type_sobstv and not list_owner:
        cell_owner = list(list_type_sobstv)
    elif len(set(list_type_sobstv)) == 1 and len(list_owner) == 1:
        cell_owner = [list_type_sobstv[0] + " " + list_owner[0]]
    if not cell_owner:
        if category in ("Земли лесного фонда", "Земли водного фонда"):
            cell_owner = ["Собственность РФ"]
        elif district == "Калининский":
            cell_owner = [ADM]

    def b4():
        if list_type_sobstv and not list_owner:
            return type_sobstv if type_sobstv is not None else ""
        return ""

    if type_sobstv == SH:
        if len(list_type_sobstv) == 1 and len(list_owner) == 1:
            return cell_owner[0]
        if list_doli_ga:
            if len(list_doli_ga) == len(list_owner) and len(list_owner) <= 2:
                return SH + " " + ", ".join(
                    i + " " + k for i, k in zip(list_doli_ga, list_owner)
                )
            if len(list_doli_ga) == len(list_owner):
                return f"{SH} ({len(set_dolevikov)} правообладателей)"
            if list_doli_ga and list_dolei:
                if len(set_dolevikov) > 2:
                    return (f"{SH} ({max(list_dolei)} долей; "
                            f"{len(set_dolevikov)} правообладателей)")
                if len(set_dolevikov) == 2 and list_dolei:
                    return (f"{SH} {', '.join(ldn)} ({max(list_dolei)} долей)")
                return b4()
            if len(set_dolevikov) > 2:
                return f"{SH} ({len(set_dolevikov)} правообладателей)"
            if len(set_dolevikov) <= 2:
                # deviation: sorted stands in for Python-set order
                return f"{SH} ({', '.join(sorted(set_dolevikov))})"
        elif list_dolei:
            try:
                if len(set_dolevikov) == 1 and MISSING in set_dolevikov:
                    return (f"{SH} ({max(list_dolei)} долей; "
                            "данные о правообладателях отсутствуют)")
                if len(set_dolevikov) == 1:
                    return f"{SH} ({max(list_dolei)} долей)" + ldn[0]
                if len(list_dolevikov) > 2:
                    return (f"{SH} ({max(list_dolei)} долей; "
                            f"{len(set_dolevikov)} правообладателей)")
                if len(list_dolevikov) == 1:
                    return SH + " " + doli_two_persons[0] + " " + ldn[0]
                return (SH + ": " + doli_two_persons[0] + " " + ldn[0]
                        + ", " + doli_two_persons[1] + " " + ldn[1])
            except IndexError:
                return b4()
        else:
            if len(set_dolevikov) > 0:
                return f"{SH} ({len(set_dolevikov)} правообладателей)"
        return b4()
    if list_sovm:
        if list_sovm != list_owner:
            return (JT + " " + ", ".join(list_sovm)
                    + ", " + ", ".join(cell_owner))
        return JT + " " + ", ".join(list_sovm)
    if type_sobstv != SH and list_dolei:
        if len(list_dolei) > 2:
            return (SH + "  (" + str(max(list_dolei)) + " долей; "
                    + str(len(set_dolevikov)) + " правообладателей)")
        vse = []
        for dtp in doli_two_persons:
            idx = doli_two_persons.index(dtp)  # FIRST occurrence, as the ref
            o = list_owner[idx] if idx < len(list_owner) else ""
            vse.append(SH + " " + str(dtp) + " " + _py_initcap(o.upper()))
        dopzap = ""
        if len(list_owner) == len(doli_two_persons) + 1 and list_type_sobstv:
            dopzap = ", " + str(list_type_sobstv[0]) + " " + list_owner[-1]
        return ", ".join(vse) + dopzap
    if not cell_owner:
        return ""
    return ", ".join(cell_owner)


def _owner_reference_egrn(rows):
    """Sequential transcription of real_estate.py:1076-1239 over
    document-ordered (rt, owner, den, text, num) rows."""
    r_type = None
    r_type_list, lst_holders, shared_list, share_list = [], [], [], []
    denominators = set()
    for rt, owner, den, text, num in rows:
        if rt is not None:
            r_type = rt
            r_type_list.append(rt)
        if rt == EG:
            if num is not None and den is not None:
                share_list.append(f"{num}/{den}")
                denominators.add(int(den))
        if owner is not None and rt is not None:
            (shared_list if rt == EG else lst_holders).append(owner)
    cells = []
    if len(r_type_list) == len(lst_holders):
        cells = [t + " " + h for t, h in zip(r_type_list, lst_holders)]
    else:
        cells = [(r_type or "") + " " + ", ".join(lst_holders)]
    if r_type is not None and lst_holders:
        return ", ".join(cells)
    if r_type is not None and shared_list:
        if r_type == EG:
            n, ns = len(shared_list), len(share_list)
            if n > 2 and denominators:
                return f"{EG}({max(denominators)} долей; {n} правообладателей)"
            if n > 2:
                return f"{EG} ; {n} правообладателей)"
            if n == 2 and ns == 2:
                return (f"{EG}: {share_list[0]} {shared_list[0]}, "
                        f"{share_list[1]} {shared_list[1]}")
            if n == 2 and ns == 0:
                return f"{EG}: {shared_list[0]}, {shared_list[1]}"
            if n == 1 and ns == 1:
                return f"{EG}: {share_list[0]} {shared_list[0]}"
            if n == 1:
                return f"{EG}: {shared_list[0]}"
        return ""
    if r_type is not None:
        return r_type
    return ""


def test_randomized_parity_vs_sequential_mirror(spark):
    """300 random docs spanning the whole branch space, one Spark job,
    compared doc-by-doc against the sequential reference mirror (seeded
    -> exactly reproducible).  Docs carrying the EGRN label anywhere run
    the EGRN tree (the implementation's label inference)."""
    import random

    rng = random.Random(20260817)
    types = [SH, SH, SH, JT, "Собственность", None]
    owners = [None, "иванов иван", "ПЕТРОВ ПЁТР", "Сидоров Олег", "Андреев Юрий", MISSING]
    docs = {}
    rights_rows, parcels_rows = [], []
    for i in range(300):
        did = f"doc{i}"
        egrn_doc = i % 5 == 4  # a fifth of the corpus runs the EGRN tree
        n = rng.randint(0, 5)
        rows = []
        for _ in range(n):
            rt = rng.choice([EG, EG, "Собственность", "Аренда", None]) if egrn_doc \
                else rng.choice(types)
            owner = rng.choice(owners)
            kind = rng.randint(0, 3)
            if kind == 0:
                den, text, num = None, None, None
            elif kind == 1:
                den = rng.choice([2, 5, 150])
                text, num = f"1/{den}", "1"
            elif kind == 2:
                den, num = None, None
                text = rng.choice(["10 га", "0.5 га"])
            else:
                den, num = None, None
                text = "пропорционально размеру общей площади"
            if egrn_doc and rt != EG:
                den, text, num = None, None, None  # EGRN shares only on shared recs
            rows.append((rt, owner, den, text, num))
            rights_rows.append((did, rt, owner, den, text))
        category = rng.choice(["Земли лесного фонда", "Прочее"])
        parcels_rows.append((did, category, "Калининский"))
        if any(r[0] == EG for r in rows):
            docs[did] = _owner_reference_egrn(rows)
        elif rows or True:
            docs[did] = _owner_reference_kvzu(
                [(rt, o, d, t) for rt, o, d, t, _ in rows], category, "Калининский"
            )

    got = _run(spark, rights_rows, parcels_rows)
    mismatches = {d: (got[d], docs[d]) for d in docs if got[d] != docs[d]}
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {list(mismatches.items())[:3]}"


def test_egrn_shared_branches(spark):
    """The EGRN owner tree (real_estate.py:1210-1239) — one fixture per
    branch, including the no-space-paren and stray-paren quirks."""
    rights = [
        # >2 holders with denominators -> 'type(D долей; N правообладателей)'
        ("e1", EG, "Иванов Иван Иванович", 10, "1/10"),
        ("e1", EG, "Петров Пётр Петрович", 10, "2/10"),
        ("e1", EG, "Сидоров Олег", 10, "3/10"),
        # >2 holders, no denominators -> 'type ; N правообладателей)'
        ("e2", EG, "Иванов Иван", None, None),
        ("e2", EG, "Петров Пётр", None, None),
        ("e2", EG, "Сидоров Олег", None, None),
        # 2 holders, 2 shares -> 'type: s1 h1, s2 h2'
        ("e3", EG, "Иванов Иван", 5, "1/5"),
        ("e3", EG, "Петров Пётр", 5, "4/5"),
        # 2 holders, 0 shares -> 'type: h1, h2'
        ("e4", EG, "Иванов Иван", None, None),
        ("e4", EG, "Петров Пётр", None, None),
        # 1 holder, 1 share -> 'type: s1 h1'
        ("e5", EG, "ООО Поле ИНН: 7709", 5, "2/5"),
        # 1 holder, no share -> 'type: h1'
        ("e6", EG, "Иванов Иван", None, None),
        # 2 holders, 1 share -> unhandled in the reference -> ''
        ("e7", EG, "Иванов Иван", 3, "1/3"),
        ("e7", EG, "Петров Пётр", None, None),
        # shared records with zero holders -> the bare type (:1237)
        ("e8", EG, None, 9, "1/9"),
    ]
    got = _run(spark, rights, _parcels([f"e{i}" for i in range(1, 9)]))
    assert got["e1"] == f"{EG}(10 долей; 3 правообладателей)"
    assert got["e2"] == f"{EG} ; 3 правообладателей)"
    assert got["e3"] == f"{EG}: 1/5 Иванов Иван, 4/5 Петров Пётр"
    assert got["e4"] == f"{EG}: Иванов Иван, Петров Пётр"
    assert got["e5"] == f"{EG}: 2/5 ООО Поле ИНН: 7709"
    assert got["e6"] == f"{EG}: Иванов Иван"
    assert got["e7"] == ""
    assert got["e8"] == EG


def test_egrn_mixed_positional_pairing(spark):
    """Docs mixing shared and non-shared records take the cells_owners
    path (real_estate.py:1208-1219): equal-length lists pair
    r_type_list[i] with lst_holders[i] POSITIONALLY in document order;
    mismatched lengths collapse to 'last_type h1, h2, ...'."""
    rights = [
        # m1: equal lengths — pairing must follow DOCUMENT order, not a
        # sort ('Собственность' > 'Аренда' lexically, order must hold)
        ("m1", "Собственность", "Иванов Иван", None, None),
        ("m1", "Аренда", "Петров Пётр", None, None),
        # m2: shared record + non-shared record -> r_type_list has 2
        # entries, lst_holders 1 -> mismatch -> 'last_type holder'
        ("m2", EG, "Иванов Иван", 5, "1/5"),
        ("m2", "Собственность", "Петров Пётр", None, None),
    ]
    got = _run(spark, rights, _parcels(["m1", "m2"]))
    assert got["m1"] == "Собственность Иванов Иван, Аренда Петров Пётр"
    assert got["m2"] == "Собственность Петров Пётр"


def test_egrn_mixed_forces_egrn_tree_via_flag(spark):
    """m1 above relied on the label inference; the explicit is_egrn flag
    (rights_table sets it from source_schema) routes docs WITHOUT any
    shared record to the EGRN pairing too."""
    rights = spark.createDataFrame(
        pd.DataFrame(
            [("f1", "Собственность", "Иванов Иван", 0, True, True),
             ("f1", "Аренда", "Петров Пётр", 1, True, True)],
            columns=["doc_id", "right_type", "owner", "pos", "rec_first", "is_egrn"],
        ),
        schema="doc_id string, right_type string, owner string, pos long, "
        "rec_first boolean, is_egrn boolean",
    ).withColumn("share_den", pyspark_lit_null_long()) \
     .withColumn("share_text", pyspark_lit_null_str())
    parcels = spark.createDataFrame(
        pd.DataFrame([("f1", "Прочее", "Калининский")],
                     columns=["doc_id", "category", "district_name"])
    )
    got = _owners(spark, rights, parcels)
    assert got["f1"] == "Собственность Иванов Иван, Аренда Петров Пётр"


def pyspark_lit_null_long():
    from pyspark.sql import functions as F

    return F.lit(None).cast("long")


def pyspark_lit_null_str():
    from pyspark.sql import functions as F

    return F.lit(None).cast("string")


# --- the per-row path's edge cases ---------------------------------------------


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_null_rights_take_the_no_rights_defaults(spark, ansi):
    """The parser emits a null ``rights`` for a document without rights.
    size(null) is null under ANSI and -1 without it; either way the
    per-row path takes the no-rights defaults (:363-380)."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = spark.createDataFrame(
            [("f", "Земли лесного фонда", "Калининский", None),
             ("a", "Прочее", "Калининский", None),
             ("n", "Прочее", "123", None),
             ("e", "Прочее", "Калининский", [])],
            schema=f"doc_id string, category string, district_name string, rights {PARSED_RIGHTS}",
        )
        owner = owner_column(owner_rows(), F.lit(False), F.col("category"), F.col("district_name"))
        got = {r.doc_id: r.owner for r in df.select("doc_id", owner.alias("owner")).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == {"f": "Собственность РФ", "a": ADM, "n": "", "e": ADM}


def test_null_owner_and_null_type_rows(spark):
    """Rows without an owner or without a type, in both trees, against
    the sequential mirror."""
    kvzu = [
        ("k1", None, "Иванов Иван", None, None),
        ("k1", SH, None, 2, "1/2"),
        ("k2", None, None, None, None),
        ("k3", SH, "Иванов Иван", 4, "1/4"),
        ("k3", None, "Петров Пётр", None, None),
        ("k4", JT, None, None, None),
    ]
    egrn = [
        ("e1", EG, None, 3, "1/3"),
        ("e1", None, "Иванов Иван", None, None),
        ("e2", EG, "Петров Пётр", None, None),
        ("e2", "Собственность", None, None, None),
    ]
    got = _run(spark, kvzu + egrn, _parcels(["k1", "k2", "k3", "k4", "e1", "e2"]))
    for doc in ("k1", "k2", "k3", "k4"):
        rows = [(rt, o, d, t) for did, rt, o, d, t in kvzu if did == doc]
        assert got[doc] == _owner_reference_kvzu(rows, "Земли населённых пунктов", "Калининский"), doc
    for doc in ("e1", "e2"):
        rows = [(rt, o, d, t, t.split("/")[0] if t else None) for did, rt, o, d, t in egrn if did == doc]
        assert got[doc] == _owner_reference_egrn(rows), doc


def test_parsed_extracts_reach_the_egrn_tree_from_source_schema(spark):
    """Parsed KVZU, land_record and build_record extracts: the export's
    owner column (pipeline.document_rows) equals owner_summary over
    rights_table.  land_record rights carry no EGRN shared label in m1, so
    only ``source_schema`` routes it to the EGRN pairing; the
    build_record extract has no rights at all."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.pipeline import (
        document_rows,
        finalize_attributes,
        rights_table,
    )
    from rosreestr_xml_to_gis_converter_spark.sources.synth_xml import (
        build_record_xml,
        egrn_right_records,
        kvzu_xml,
        land_record_xml,
    )
    from rosreestr_xml_to_gis_converter_spark.sources.xml_extract import parse_extracts

    sq = np.array([[10.0, 50.0], [14.0, 50.0], [14.0, 54.0], [10.0, 54.0], [10.0, 50.0]])
    docs = [
        ("k.xml", kvzu_xml("69:1:1:1", [sq], rights=[
            {"code": "001002000000", "owner": "Иванов Иван", "share": (1, 4)},
            {"code": "001002000000", "owner": "Петров Петр", "share": (3, 4)},
        ])),
        ("k0.xml", kvzu_xml("69:1:1:2", [sq])),
        ("m1.xml", land_record_xml("50:1:1:1", [sq], right_records=egrn_right_records([
            {"type": "Собственность", "holders": [("individual", "Zeta Ivan")]},
            {"type": "Аренда", "holders": [("municipality", "Alpha")]},
        ]))),
        ("m2.xml", land_record_xml("50:1:1:2", [sq], right_records=egrn_right_records([
            {"type": EG, "share": ("1", "2"), "holders": [("individual", "Egrnov Ivan")]},
            {"type": EG, "share": ("1", "2"), "holders": [("legal", "ООО Луг", "771")]},
        ]))),
        ("b.xml", build_record_xml("69:40:2:8", [sq])),
    ]
    files = spark.createDataFrame(
        [(n, bytearray(x.encode())) for n, x in docs], "path string, content binary"
    )
    p = finalize_attributes(parse_extracts(files))
    own = owner_summary(rights_table(p), p.select("doc_id", "category", "district_name"))
    cad = {r.doc_id: r.cad_number for r in p.select("doc_id", "cad_number").collect()}
    via_table = {cad[r.doc_id]: r.owner or "" for r in own.collect()}
    via_row = {r.cad_number: r.owner for r in document_rows(p).collect()}
    assert via_row == via_table
    # KVZU codes resolve through the RIGHT classifier: 001002000000 is
    # the shared-ownership label, two rows with numeric shares -> B3e
    assert via_row["69:1:1:1"] == f"{SH}: 1/4 Иванов Иван, 3/4 Петров Петр"
    assert via_row["50:1:1:1"] == "Собственность Zeta Ivan, Аренда Alpha"
    assert via_row["50:1:1:2"].startswith(EG + ": 1/2 ")
