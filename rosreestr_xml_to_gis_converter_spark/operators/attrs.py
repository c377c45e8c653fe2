"""Attribute-row operators: the reference's owner-aggregation matrix as a
higher-order-function branch tree over one document's rights rows.

Re-expresses the full branch tree of /root/reference/real_estate.py:183-452
(KVZU family) and :1076-1239 (the separate EGRN tree).  The tree is one
Column function, :func:`owner_column`, over a **document-ordered array**
of :func:`owner_row` structs (``pos`` = position of the row inside the
parsed ``rights`` array, i.e. XML document order).  Every reference list
(``list_type_sobstv``, ``list_owner``, ``list_dolei``,
``doli_two_persons``, ``list_doli_ga``, ``list_sovm_sobsv``,
``r_type_list``, ``lst_holders``, ...) is rebuilt as a
``filter``/``transform`` expression over that array — so positional
pairings (zip, ``[i]`` indexing, ``.index()`` lookups) and the
last-right's-type gate are computed exactly as the reference's sequential
code does, in document order, entirely inside WholeStageCodegen.

Two callers build the array: the export maps a parsed document's own
``rights`` array to it row by row (pipeline.owner_rows), and
:func:`owner_summary` collects it from a normalized per-right rows table

    rights(doc_id, right_type, owner, share_den, share_text[, share_num,
           pos, rec_first, is_egrn])

with one hash aggregation per document.

Row classification (real_estate.py:210-222):
* 'пропорциональн...' share texts contribute NO share (the row still
  carries its owner/type);
* numeric shares ('3/25' or Share@Numerator/Denominator) feed
  list_dolei / doli_two_persons — here ``share_den`` + ``share_text``;
* every other non-null share text is a hectare-text share
  (``list_doli_ga``, e.g. '10 га').
Shares/types are per RIGHT RECORD (``rec_first`` marks the first row of
each record; a record with several Owner children explodes into several
rows that share one Registration) while owner names are per row —
exactly the reference's loop structure.

Branch tree for 'Долевая собственность' (:381-431), in reference order:
  B1 exactly 1 right row with 1 owner      -> 'type owner' (RAW owner —
     cell_owner[0] is built from the unmodified name, :383-386)
  B2 ga shares present:
    a n_ga == n_owner_rows <= 2            -> 'type ga1 o1, ga2 o2'
      (zip of list_doli_ga with list_owner, document order)
    b n_ga == n_owner_rows > 2             -> 'type (N правообладателей)'
    c ga AND numeric, >2 distinct owners   -> 'type (D долей; N правообладателей)'
      ga AND numeric, 2 distinct owners    -> 'type Name1, Name2 (D долей)'
      ga AND numeric, <2 distinct owners   -> fall-through (B4 check)
    d >2 distinct owners                   -> 'type (N правообладателей)'
    e <=2 distinct owners                  -> 'type (NAME1, NAME2)'  (upper set)
  B3 numeric shares only (positional: doli_two_persons[i] pairs with
     list_dolevikov_new[i], NOT with the share's own row):
    a 1 distinct owner == 'ДАННЫЕ О ПРАВООБЛАДАТЕЛЕ ОТСУТСТВУЮТ'
                                           -> 'type (D долей; данные о правообладателях отсутствуют)'
    b 1 distinct owner, <=2 rows           -> 'type (D долей)Name'   (the
      reference's no-space concat quirk, :410-411)
      1 distinct owner, >2 rows            -> fall-through (reference
      IndexError caught by the bare except, :421-422)
    c >2 owner rows                        -> 'type (D долей; N правообладателей)'
    d exactly 1 owner row                  -> 'type d1 Name1'
    e 2 owner rows, >=2 numeric shares     -> 'type: d1 Name1, d2 Name2'
      2 owner rows, <2 numeric shares      -> fall-through (ref IndexError)
  B4 right rows but zero owners            -> the bare right type (:426-431);
     every fall-through above lands here (-> '' when owners exist)
* joint ownership (:432-436): list_sovm_sobsv is the joint owners
  REPEATED once per joint record (the reference's nested re-scan loop,
  :228-249); output 'Совместная собственность o1, o2' plus
  ', ' + join(cell_owner) when the lists differ (they almost always do)
* 'один человек собственник всех долей + сервитут' (:440-449): gate type
  is NOT shared but numeric shares exist ->
  '>2 shares: 'Долевая собственность  (D долей; N правообладателей)'
  (double-space quirk); else per-share 'Долевая собственность d Owner'
  where Owner = list_owner[doli_two_persons.index(d)] (first-occurrence
  index — duplicate share texts re-use the first match, reproduced with
  array_position) + the reference's trailing single-extra-owner append
* no rights rows at all / empty cell_owner: forest/water fund ->
  'Собственность РФ' (:363-366), else district-administration fallback
  with the '-ий/-ой -> -ого' regex declension (:367-380), else ''.
* otherwise ', '-joined zip of list_type_sobstv x list_owner (:342-351,
  with the types-only and 1-distinct-type branches).

The EGRN extract family has its OWN owner tree (:1076-1239), applied when
the document's EGRN flag is set (source_schema land_record /
build_record, :func:`is_egrn`):
  r_type_list = type per record (document order, :1092-1096);
  lst_holders = holders of NON-shared records (:1178-1209; the 'another'
  holder kind appends NOTHING, :1206-1207, so a record of it shifts the
  pairing);  shared_ownership_list = holders of shared records.
  len(r_type_list) == len(lst_holders) -> positional cells
    'r_type_list[i] lst_holders[i]' (:1208-1214), else the concat cell
    'last_type h1, h2, ...' (:1215-1216).
  Any non-shared holder present -> ', '.join(cells)  (:1217-1218 — the
  MIXED shared/non-shared case takes this path too).
  Else the shared branch tree with its quirks:
  >2 holders w/ denominators -> 'type(D долей; N правообладателей)'
                                 (no space before the paren, :1222-1223)
  >2 holders, no denominators -> 'type ; N правообладателей)'
                                 (stray closing paren, :1224-1225)
  2 holders w/ 2 or 0 shares  -> 'type: [s1 ]h1, [s2 ]h2'
  1 holder                    -> 'type: [s1 ]h1'
  other combinations          -> ''   (unhandled in the reference)
  shared records, no holders  -> the bare type (:1237)
EGRN holder counts keep duplicates and case; share_list is per RECORD
(num/den both parsed, :1098-1117); names are emitted as-is.

Deliberate deviations (documented):
* names are emitted via ``initcap`` where the reference calls
  ``str.title()`` — identical for space-delimited names; hyphenated
  all-caps names differ ('ANNA-MARIA' -> 'Anna-maria' vs 'Anna-Maria');
* B2e joins ``set_dolevikov`` SORTED (the reference joins a Python set —
  its iteration order is interpreter-hash arbitrary, so no distributed
  order can match it; sorted is deterministic);
* a record whose <value> element exists but is EMPTY is treated as
  type-less (the reference appends None to r_type_list and pairs it);
* the reference re-reads the legacy GKN block even when modern rights
  exist but their lists mismatch (:285); the parse falls back only when
  the modern block is empty;
* records lacking a type value classify their holders by the RUNNING
  previous type in the reference (:1092 r_type is a loop variable); here
  by their own (null) type — identical whenever every record carries a
  type, as all real schemas do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SHARED = "Долевая собственность"
JOINT = "Совместная собственность"
# EGRN extracts carry the label text directly, and the reference's EGRN
# owner property (real_estate.py:1076-1239) is a DIFFERENT branch tree
# from the KVZU matrix — keyed on this label:
EGRN_SHARED = "Общая долевая собственность"

MISSING_OWNER = "ДАННЫЕ О ПРАВООБЛАДАТЕЛЕ ОТСУТСТВУЮТ"


def district_administration(district: Column) -> Column:
    """'Калининский' -> 'Администрация Калининского района'
    (real_estate.py:367-380's two declension branches)."""
    # (?U): Java's \w is ASCII-only by default; the reference's Python \w
    # matches Cyrillic (real_estate.py:371,377)
    adj_ij = F.regexp_extract(district, r"(?U)([\w\-]+ий)", 1)
    adj_oj = F.regexp_extract(district, r"(?U)([\w\-]+ой)", 1)
    name = F.when(adj_ij != "", F.regexp_replace(adj_ij, "ий$", "ого")).when(
        adj_oj != "", F.regexp_replace(adj_oj, "ой$", "ого")
    )
    return F.when(
        name.isNotNull(), F.concat(F.lit("Администрация "), name, F.lit(" района"))
    )


def _s(c: Column) -> Column:
    return c.cast("string")


def _empty() -> Column:
    return F.array().cast("array<string>")


def owner_row(
    pos: Column,
    right_type: Column,
    owner: Column,
    share_den: Column,
    share_text: Column,
    share_num: Column,
    rec_first: Column,
) -> Column:
    """One rights row as :func:`owner_column` reads it.  The struct sorts
    on ``pos`` first, so ``array_sort`` puts a document's rows in XML
    document order."""
    return F.struct(
        pos.cast("long").alias("pos"),
        right_type.alias("rt"),
        owner.alias("owner"),
        share_den.cast("int").alias("den"),
        share_text.alias("txt"),
        share_num.alias("num"),
        rec_first.alias("rf"),
    )


def owner_summary(rights: DataFrame, parcels: DataFrame) -> DataFrame:
    """rights x parcels(doc_id, category, district_name) -> (doc_id, owner).

    ``rights`` needs (doc_id, right_type, owner, share_den) and
    optionally ``share_text`` (without it the ga branches and the
    share-text pair branches see nulls, matching extracts that carry only
    Share attrs), ``share_num`` (EGRN share_list), ``pos`` (XML document
    order; without it rows order deterministically by content),
    ``rec_first`` (first row of each right record; without it every row
    counts as its own record) and ``is_egrn`` (route to the EGRN tree).
    The rows of each document are collected into the array
    :func:`owner_column` reads.
    """
    for col, default in (
        ("share_text", F.lit(None).cast("string")),
        ("share_num", F.lit(None).cast("string")),
        ("pos", F.lit(0).cast("long")),
        ("rec_first", F.lit(True)),
        # without an explicit flag, infer the EGRN family from the label:
        # the EGRN shared label never comes out of the KVZU classifier
        # (001002000000 -> 'Долевая собственность'), so any row carrying
        # it marks an EGRN document
        ("is_egrn", F.coalesce(F.col("right_type") == EGRN_SHARED, F.lit(False))),
    ):
        if col not in rights.columns:
            rights = rights.withColumn(col, default)

    row = owner_row(
        *[F.col(c) for c in
          ("pos", "right_type", "owner", "share_den", "share_text", "share_num", "rec_first")]
    )
    g = rights.groupBy("doc_id").agg(
        # struct sort: pos first (document order); with the pos=0
        # fallback the remaining fields give a deterministic content order
        F.array_sort(F.collect_list(row)).alias("rows"),
        F.max(F.when(F.col("is_egrn"), 1).otherwise(0)).alias("egrn_flag"),
    )
    owner = owner_column(
        F.col("rows"), F.col("egrn_flag") == 1, F.col("category"), F.col("district_name")
    )
    return parcels.join(g, "doc_id", "left").select("doc_id", owner.alias("owner"))


def owner_column(rows: Column, egrn: Column, category: Column, district: Column) -> Column:
    """The owner string of one document: the branch tree over ``rows``,
    its document-ordered :func:`owner_row` array (null or empty when the
    document has no rights), with ``egrn`` routing to the EGRN tree and
    ``category``/``district`` feeding the no-owner defaults.

    The tree reads ``rows`` and each of :func:`_owner_lists` many times,
    so both are bound once with :func:`_bind`."""
    return _bind(
        lambda r: _bind(
            lambda *lists: _owner_tree(r, lists, egrn, category, district), *_owner_lists(r)
        ),
        rows,
    )


def _bind(body, *values: Column) -> Column:
    """``body(*values)`` with each value bound once: a one-element
    ``transform`` over a struct of the values makes each a field of one
    lambda variable, so a computed expression is planned and evaluated
    once instead of being copied into every use (Catalyst does not share
    subexpressions across higher-order lambdas)."""
    names = [f"_{i}" for i in range(len(values))]
    bound = F.array(F.struct(*[v.alias(n) for v, n in zip(values, names)]))
    return F.get(F.transform(bound, lambda s: body(*[s[n] for n in names])), 0)


def _nn(c: Column) -> Column:
    return c.isNotNull()


def _owner_lists(rows: Column) -> list[Column]:
    """The reference lists the branch tree reads most, in the order
    :func:`_owner_tree` unpacks them, all in document order."""
    recs = F.filter(rows, lambda r: r["rf"])  # first row of each record
    nj = lambda r: _nn(r["rt"]) & (r["rt"] != JOINT)  # noqa: E731
    prop = lambda r: F.coalesce(r["txt"].rlike("пропорциональн"), F.lit(False))  # noqa: E731
    owners_nj = F.transform(
        F.filter(rows, lambda r: nj(r) & _nn(r["owner"])), lambda r: r["owner"]
    )
    dolei_recs = F.filter(recs, lambda r: (r["rt"] == SHARED) & _nn(r["den"]) & ~prop(r))
    ga_recs = F.filter(
        recs, lambda r: (r["rt"] == SHARED) & r["den"].isNull() & _nn(r["txt"]) & ~prop(r)
    )
    typed = F.filter(rows, lambda r: _nn(r["rt"]))
    return [
        recs,
        F.transform(F.filter(recs, nj), lambda r: r["rt"]),  # list_type_sobstv
        owners_nj,  # list_owner
        F.transform(dolei_recs, lambda r: r["den"]),  # list_dolei
        F.transform(dolei_recs, lambda r: r["txt"]),  # doli_two_persons
        F.transform(ga_recs, lambda r: r["txt"]),  # list_doli_ga
        F.transform(owners_nj, F.upper),  # list_dolevikov (dups kept)
        # type_sobstv: the LAST right's resolved type (loop variable, :209)
        F.get(typed, F.size(typed) - 1)["rt"],
        F.transform(  # the EGRN shared holders
            F.filter(rows, lambda r: (r["rt"] == EGRN_SHARED) & _nn(r["owner"])),
            lambda r: r["owner"],
        ),
    ]


def _owner_tree(
    rows: Column, lists: tuple, egrn: Column, category: Column, district: Column
) -> Column:
    recs, types_nj, owners_nj, list_dolei, dtp, ga, dolevikov, type_gate, eg_shared = lists
    set_dolev = F.array_distinct(dolevikov)  # set_dolevikov (first occurrence)
    n_distinct = F.size(set_dolev)
    # list_dolevikov_new: populated only when 0 < len < 3 (:358-361)
    ldn = F.when(
        F.size(dolevikov).between(1, 2), F.transform(dolevikov, F.initcap)
    ).otherwise(_empty())
    joint_owners = F.transform(
        F.filter(rows, lambda r: (r["rt"] == JOINT) & _nn(r["owner"])),
        lambda r: r["owner"],
    )
    n_joint_recs = F.size(F.filter(recs, lambda r: r["rt"] == JOINT))
    # the reference's nested re-scan appends ALL joint owners once per
    # joint record (:228-249) — owners repeated x n_joint_recs
    sovm = F.when(
        n_joint_recs > 0,
        F.flatten(F.transform(F.sequence(F.lit(1), n_joint_recs), lambda _: joint_owners)),
    ).otherwise(_empty())  # list_sovm_sobsv

    # cell_owner (:282-284 + post-GKN :342-351 combined over merged rows)
    cell_owner = (
        F.when(
            F.size(types_nj) == F.size(owners_nj),
            F.zip_with(types_nj, owners_nj, lambda t, o: F.concat(t, F.lit(" "), o)),
        )
        .when((F.size(types_nj) > 0) & (F.size(owners_nj) == 0), types_nj)
        .when(
            (F.size(F.array_distinct(types_nj)) == 1) & (F.size(owners_nj) == 1),
            F.array(F.concat(F.get(types_nj, 0), F.lit(" "), F.get(owners_nj, 0))),
        )
        .otherwise(_empty())
    )
    # empty cell_owner -> category/district defaults (:363-380) are
    # APPENDED before the dispatch, so they ride the final join too
    default_owner = F.when(
        category.isin("Земли лесного фонда", "Земли водного фонда"),
        F.lit("Собственность РФ"),
    ).otherwise(district_administration(district))
    cell_owner_final = F.when(F.size(cell_owner) > 0, cell_owner).otherwise(
        F.when(_nn(default_owner), F.array(default_owner)).otherwise(_empty())
    )

    max_den = _s(F.array_max(list_dolei))
    count_tail = F.concat(_s(n_distinct), F.lit(" правообладателей)"))
    dolei_head = F.concat(F.lit(SHARED + " ("), max_den, F.lit(" долей"))
    shared_gate = F.coalesce(type_gate == SHARED, F.lit(False))
    has_ga = F.size(ga) > 0
    has_dolei = F.size(list_dolei) > 0
    # every fall-through of the shared block lands on the B4 check
    # (:426-431): bare type when owners are absent, else implicit None
    b4_or_empty = F.when(
        (F.size(types_nj) > 0) & (F.size(owners_nj) == 0), type_gate
    ).otherwise(F.lit(""))

    # --- EGRN lists (:1083-1216) ----------------------------------------
    eg_types = F.transform(F.filter(recs, lambda r: _nn(r["rt"])), lambda r: r["rt"])
    eg_holders = F.transform(
        F.filter(rows, lambda r: _nn(r["rt"]) & (r["rt"] != EGRN_SHARED) & _nn(r["owner"])),
        lambda r: r["owner"],
    )
    eg_share_recs = F.filter(
        recs, lambda r: (r["rt"] == EGRN_SHARED) & _nn(r["num"]) & _nn(r["den"])
    )
    share_list = F.transform(
        eg_share_recs, lambda r: F.concat(r["num"], F.lit("/"), _s(r["den"]))
    )
    eg_max_den = F.array_max(F.transform(eg_share_recs, lambda r: r["den"]))
    eg_cells = F.when(
        F.size(eg_types) == F.size(eg_holders),
        F.zip_with(eg_types, eg_holders, lambda t, h: F.concat(t, F.lit(" "), h)),
    ).otherwise(
        F.array(F.concat(type_gate, F.lit(" "), F.array_join(eg_holders, ", ")))
    )
    eg_n = F.size(eg_shared)
    eg_ns = F.size(share_list)

    # 'один человек собственник всех долей + сервитут' (:440-449)
    vse_entries = F.transform(
        dtp,
        lambda d: F.concat(
            F.lit(SHARED + " "),
            d,
            F.lit(" "),
            F.initcap(F.coalesce(F.get(owners_nj, F.array_position(dtp, d) - 1), F.lit(""))),
        ),
    )
    vse_dop = F.when(
        (F.size(owners_nj) == F.size(dtp) + 1) & (F.size(types_nj) > 0),
        F.concat(
            F.lit(", "),
            F.get(types_nj, 0),
            F.lit(" "),
            F.get(owners_nj, F.size(owners_nj) - 1),
        ),
    ).otherwise(F.lit(""))

    return (
        # no rights rows at all -> the pre-dispatch defaults are all that
        # can fire (:363-380); '' when neither matches.  The null test
        # comes first: size(null) is -1 or null depending on ANSI mode
        F.when(
            rows.isNull() | (F.size(rows) == 0),
            F.coalesce(default_owner, F.lit("")),
        )
        # ---- EGRN tree (:1217-1239) ----
        .when(
            egrn & _nn(type_gate) & (F.size(eg_holders) > 0),
            F.array_join(eg_cells, ", "),
        )
        .when(
            egrn & _nn(type_gate) & (eg_n > 0) & (type_gate == EGRN_SHARED),
            F.when(
                (eg_n > 2) & _nn(eg_max_den),
                # the reference's no-space-before-paren quirk (:1222-1223)
                F.concat(
                    type_gate, F.lit("("), _s(eg_max_den),
                    F.lit(" долей; "), _s(eg_n), F.lit(" правообладателей)"),
                ),
            )
            .when(
                eg_n > 2,
                # the reference's stray-paren quirk (:1224-1225)
                F.concat(type_gate, F.lit(" ; "), _s(eg_n), F.lit(" правообладателей)")),
            )
            .when(
                (eg_n == 2) & (eg_ns == 2),
                F.concat(
                    type_gate, F.lit(": "),
                    F.get(share_list, 0), F.lit(" "), F.get(eg_shared, 0),
                    F.lit(", "),
                    F.get(share_list, 1), F.lit(" "), F.get(eg_shared, 1),
                ),
            )
            .when(
                (eg_n == 2) & (eg_ns == 0),
                F.concat(
                    type_gate, F.lit(": "),
                    F.get(eg_shared, 0), F.lit(", "), F.get(eg_shared, 1),
                ),
            )
            .when(
                (eg_n == 1) & (eg_ns == 1),
                F.concat(
                    type_gate, F.lit(": "), F.get(share_list, 0),
                    F.lit(" "), F.get(eg_shared, 0),
                ),
            )
            .when(eg_n == 1, F.concat(type_gate, F.lit(": "), F.get(eg_shared, 0)))
            .otherwise(F.lit("")),  # unhandled combinations
        )
        .when(egrn & _nn(type_gate) & (eg_n > 0), F.lit(""))  # gate not shared
        .when(egrn & _nn(type_gate), type_gate)  # shared records, zero holders
        .when(egrn, F.lit(""))
        # ---- KVZU shared block (:381-431) ----
        # B1 (:382-386): cell_owner[0] built from the RAW owner string
        .when(
            shared_gate & (F.size(types_nj) == 1) & (F.size(owners_nj) == 1),
            F.concat(F.get(types_nj, 0), F.lit(" "), F.get(owners_nj, 0)),
        )
        # B2 (:387-402): hectare-text shares present
        .when(
            shared_gate & has_ga & (F.size(ga) == F.size(owners_nj)) & (F.size(owners_nj) <= 2),
            F.concat(
                F.lit(SHARED + " "),
                F.array_join(
                    F.zip_with(ga, owners_nj, lambda i, k: F.concat(i, F.lit(" "), k)), ", "
                ),
            ),
        )
        .when(
            shared_gate & has_ga & (F.size(ga) == F.size(owners_nj)),
            F.concat(F.lit(SHARED + " ("), count_tail),
        )
        .when(
            shared_gate & has_ga & has_dolei & (n_distinct > 2),
            F.concat(dolei_head, F.lit("; "), count_tail),
        )
        .when(
            shared_gate & has_ga & has_dolei & (n_distinct == 2),
            F.concat(
                F.lit(SHARED + " "), F.array_join(ldn, ", "),
                F.lit(" ("), max_den, F.lit(" долей)"),
            ),
        )
        .when(shared_gate & has_ga & has_dolei, b4_or_empty)  # <2: ref falls to B4
        .when(
            shared_gate & has_ga & (n_distinct > 2),
            F.concat(F.lit(SHARED + " ("), count_tail),
        )
        .when(
            shared_gate & has_ga,
            # deviation: Python-set iteration order replaced by sorted
            F.concat(
                F.lit(SHARED + " ("), F.array_join(F.array_sort(set_dolev), ", "), F.lit(")")
            ),
        )
        # B3 (:404-422): numeric shares only — POSITIONAL dtp[i] x ldn[i]
        .when(
            shared_gate & has_dolei & (n_distinct == 1)
            & F.array_contains(set_dolev, MISSING_OWNER),
            F.concat(dolei_head, F.lit("; данные о правообладателях отсутствуют)")),
        )
        .when(
            shared_gate & has_dolei & (n_distinct == 1) & (F.size(dolevikov) <= 2),
            # the reference's no-space concat quirk (:410-411)
            F.concat(dolei_head, F.lit(")"), F.get(ldn, 0)),
        )
        .when(shared_gate & has_dolei & (n_distinct == 1), b4_or_empty)  # ref IndexError
        .when(
            shared_gate & has_dolei & (F.size(dolevikov) > 2),
            F.concat(dolei_head, F.lit("; "), count_tail),
        )
        .when(
            shared_gate & has_dolei & (F.size(dolevikov) == 1),
            F.concat(F.lit(SHARED + " "), F.get(dtp, 0), F.lit(" "), F.get(ldn, 0)),
        )
        .when(
            shared_gate & has_dolei & (F.size(dolevikov) == 2) & (F.size(dtp) >= 2),
            F.concat(
                F.lit(SHARED + ": "),
                F.get(dtp, 0), F.lit(" "), F.get(ldn, 0), F.lit(", "),
                F.get(dtp, 1), F.lit(" "), F.get(ldn, 1),
            ),
        )
        .when(shared_gate & has_dolei, b4_or_empty)  # ref IndexError (0 or 2/1 rows)
        # no shares at all but owners present (:423-425) -> count text
        .when(
            shared_gate & (n_distinct > 0),
            F.concat(F.lit(SHARED + " ("), count_tail),
        )
        # B4 (:426-431) / implicit-None fall-through
        .when(shared_gate, b4_or_empty)
        # ---- joint (:432-436): sovm + cell_owner when the lists differ
        .when(
            F.size(sovm) > 0,
            F.when(
                sovm == owners_nj,
                F.concat(F.lit(JOINT + " "), F.array_join(sovm, ", ")),
            ).otherwise(
                F.concat(
                    F.lit(JOINT + " "), F.array_join(sovm, ", "),
                    F.lit(", "), F.array_join(cell_owner_final, ", "),
                )
            ),
        )
        # ---- 'все доли у одного человека + сервитут' (:440-449) ----
        .when(
            has_dolei & (F.size(list_dolei) > 2),
            # the reference's double-space quirk ('... ' + ' (')
            F.concat(
                F.lit(SHARED + "  ("), max_den, F.lit(" долей; "), count_tail
            ),
        )
        .when(has_dolei, F.concat(F.array_join(vse_entries, ", "), vse_dop))
        # ---- final: '' on empty cell_owner, else the joined pairs ----
        .when(F.size(cell_owner_final) == 0, F.lit(""))
        .otherwise(F.array_join(cell_owner_final, ", "))
    )


def is_egrn(parcels: DataFrame) -> Column:
    """True for the EGRN extract family (source_schema land_record /
    build_record), whose owner tree and rights strings differ from the
    KVZU family's."""
    if "source_schema" not in parcels.columns:
        return F.lit(False)
    return F.col("source_schema").isin("land_record", "build_record")


def with_rights_strings(parcels: DataFrame) -> DataFrame:
    """Add the reference's three rights/encumbrance string columns from
    the structured arrays — pure Column expressions (higher-order array
    functions + literal classifier maps), FAMILY-AWARE since round 4:
    the KVZU-family and EGRN classes build these columns differently and
    so does this operator, branching on ``source_schema``.

    * own_name_reg_numb_date (column I):
      KVZU (real_estate.py:453-497): the modern block contributes ONLY
      ``Registration/Name`` texts, in document order, duplicates KEPT,
      NO synthesized entries; the legacy GKN block is consulted only
      when that list is empty, with its three branches ('label №num от
      date' / the 'name; number' semicolon quirk / bare name); ''-joined
      with '; ', '' when empty.
      EGRN (:1242-1270): one 'type №number от date' per record (all
      three parts always concatenated, missing ones as ''), '; '-joined,
      '-' when empty.
    * encumbrances_str (column J, :498-619 / :1272-1400): 'type holder'
      first-occurrence-deduped and joined.  Deviation (documented): the
      reference joins a Python SET for owner-less/EGRN entries — its
      iteration order is interpreter-hash arbitrary and the EGRN variant
      additionally re-emits prior holders under later types through a
      never-cleared accumulator (:1299-1305), so no distributed (or
      sequential!) implementation can match it byte-for-byte; this
      operator emits the deduped entries in document order.
    * enc_name_reg_numb_date_duration (column K):
      KVZU (:620-682): encumbrances WITH a Duration element emit
      'docs, срок действия: term' (term '' when the element is empty),
      first-occurrence dedup; GKN fallback when none:
      'label №(RegNumber|CadastralNumberRestriction) от RegDate';
      '; '-joined, '' when empty.
      EGRN (:1402-1449): 'name №number от date, term' when all four
      parts are present, ', '-joined, '-' when empty.
    """
    from rosreestr_xml_to_gis_converter_spark.classifiers import ENCUMBRANCE, RIGHT, label_map

    # the staged temps below would silently overwrite (and the final
    # temp-drop rule would then keep) an input column with a colliding
    # name (round-5 ADVICE): reject up front
    clash = [c for c in parcels.columns if c.startswith("_w_")]
    if clash:
        raise ValueError(
            f"with_rights_strings: input columns {clash} collide with the "
            "operator's _w_-prefixed staging temps; rename them first"
        )

    right_map = label_map(RIGHT)
    enc_map = label_map(ENCUMBRANCE)
    egrn = is_egrn(parcels)

    def entries(arr_col, fn):
        return F.filter(F.transform(arr_col, fn), lambda x: x.isNotNull())

    def joinor(arr, sep, default):
        return F.when(F.size(arr) > 0, F.array_join(arr, sep)).otherwise(F.lit(default))

    # Round-5 (VERDICT #7): multi-referenced heavy subtrees are staged as
    # named intermediate columns instead of being inlined at every use —
    # CollapseProject keeps non-cheap aliases with >1 reference as
    # separate projections, so each stage is analyzed, codegen'd and
    # EVALUATED once per row (the inlined round-4 tree recomputed e.g.
    # the full obrem/new_arend subtrees up to 3x).  Single-use subtrees
    # stay inline.  The temps are dropped before returning.
    stage1 = parcels.withColumns(
        {
            "_w_rights": F.coalesce(
                F.col("rights"), F.array().cast(parcels.schema["rights"].dataType)
            ),
            "_w_encs": F.coalesce(
                F.col("encumbrances"),
                F.array().cast(parcels.schema["encumbrances"].dataType),
            ),
        }
    )
    rights = F.col("_w_rights")
    encs = F.col("_w_encs")

    # --- I: own_name_reg_numb_date --------------------------------------
    modern_names = entries(
        F.filter(rights, lambda r: r["rec_first"] & ~r["gkn"]), lambda r: r["reg_name"]
    )
    gkn_rows = F.filter(rights, lambda r: r["gkn"])

    def gkn_own_entry(r):
        label = F.element_at(right_map, r["right_code"])
        return (
            F.when(
                r["right_code"].isNotNull()
                & r["reg_number"].isNotNull()
                & r["reg_date"].isNotNull(),
                F.concat(label, F.lit(" №"), r["reg_number"], F.lit(" от "), r["reg_date"]),
            )
            .when(
                r["reg_name"].isNotNull() & r["reg_number"].isNotNull(),
                # the reference's semicolon quirk (:485-487)
                F.concat(r["reg_name"], F.lit("; "), r["reg_number"]),
            )
            .when(r["reg_name"].isNotNull(), r["reg_name"])
        )

    stage2 = stage1.withColumn("_w_modern_names", modern_names)
    modern_names = F.col("_w_modern_names")

    kvzu_i = (
        F.when(F.size(modern_names) > 0, F.array_join(modern_names, "; "))
        .otherwise(joinor(entries(gkn_rows, gkn_own_entry), "; ", ""))
    )

    def egrn_own_entry(r):
        return F.concat(
            F.coalesce(r["right_type"], F.lit("")), F.lit(" №"),
            F.coalesce(r["reg_number"], F.lit("")), F.lit(" от "),
            F.coalesce(r["reg_date"], F.lit("")),
        )

    egrn_i_rows = F.filter(
        rights,
        lambda r: r["rec_first"]
        & (r["right_type"].isNotNull() | r["reg_number"].isNotNull() | r["reg_date"].isNotNull()),
    )
    egrn_i = joinor(entries(egrn_i_rows, egrn_own_entry), "; ", "-")

    # --- J: encumbrances_str --------------------------------------------
    def ename(e):
        return F.coalesce(e["enc_name"], F.element_at(enc_map, e["enc_code"]))

    def enc_entry(e):
        return F.concat_ws(" ", ename(e), e["holder"])

    # EGRN: 'type holder' entries; the reference joins a Python SET
    # (:1393-1394) — deduped document order is the deterministic stand-in
    egrn_j = joinor(F.array_distinct(entries(encs, enc_entry)), ", ", "")

    # KVZU (:498-625): owner-less encumbrances -> a SET ('; '-joined,
    # sorted stand-in) + the RightClaim append (the `is not set()`
    # always-true quirk means it fires even onto an empty set, yielding
    # the leading-', ' form); owner-ful -> a doc-order list whose dedup
    # key OMITS the '(sharetext)' suffix the appended value carries
    # (:538-555), with the legacy GKN fallback when that list is empty,
    # then the word-count normalization pass (:607-617): entries with a
    # '"' pass through, 4 words get title-cased, >4 get their last three
    # words title-cased, and SHORTER ENTRIES ARE DROPPED.
    def sfx(e):
        return F.when(
            e["share_text"].isNotNull(), F.concat(F.lit(" ("), e["share_text"], F.lit(")"))
        ).otherwise(F.lit(""))

    modern_enc = F.filter(encs, lambda e: e["enc_code"].isNull() & e["enc_name"].isNotNull())
    stage3 = stage2.withColumn("_w_modern_enc", modern_enc)
    modern_enc = F.col("_w_modern_enc")

    ownerless = F.filter(modern_enc, lambda e: e["holder"].isNull())
    set_obrem = F.array_sort(
        F.array_distinct(F.transform(ownerless, lambda e: F.concat(e["enc_name"], sfx(e))))
    )
    rc = (
        F.col("right_claim")
        if "right_claim" in parcels.columns
        else F.lit(None).cast("string")
    )
    obrem_str = F.concat(
        F.array_join(set_obrem, "; "),
        F.when(
            rc.isNotNull() & (rc != "данные отсутствуют"), F.concat(F.lit(", "), rc)
        ).otherwise(F.lit("")),
    )
    ownerful = F.filter(modern_enc, lambda e: e["holder"].isNotNull())
    keyed = F.transform(
        ownerful,
        lambda e: F.struct(
            F.concat(e["enc_name"], F.lit(" "), e["holder"]).alias("k"),
            F.concat(e["enc_name"], F.lit(" "), e["holder"], sfx(e)).alias("v"),
        ),
    )
    gkn_enc = F.filter(encs, lambda e: e["enc_code"].isNotNull())
    gkn_keyed = F.transform(
        gkn_enc,
        lambda e, i: F.struct(
            # bare-label entries are appended WITHOUT dedup (:597) — give
            # each a unique key so they survive the first-occurrence pass
            F.when(
                e["holder"].isNotNull(),
                F.concat(F.element_at(enc_map, e["enc_code"]), F.lit(" "), e["holder"]),
            ).otherwise(F.concat(F.element_at(enc_map, e["enc_code"]), F.lit("#"), i.cast("string"))).alias("k"),
            F.when(
                e["holder"].isNotNull(),
                F.concat(F.element_at(enc_map, e["enc_code"]), F.lit(" "), e["holder"]),
            ).otherwise(F.element_at(enc_map, e["enc_code"])).alias("v"),
        ),
    )
    stage4 = stage3.withColumns(
        {"_w_keyed": keyed, "_w_gkn_keyed": gkn_keyed, "_w_obrem_str": obrem_str}
    )
    keyed = F.col("_w_keyed")
    gkn_keyed = F.col("_w_gkn_keyed")
    obrem_str = F.col("_w_obrem_str")

    arend_modern = F.transform(
        F.filter(
            keyed,
            lambda x, i: ~F.exists(F.slice(keyed, 1, i), lambda y: y["k"] == x["k"]),
        ),
        lambda x: x["v"],
    )
    stage5 = stage4.withColumn("_w_arend_modern", arend_modern)
    arend_modern = F.col("_w_arend_modern")

    arend_gkn = F.transform(
        F.filter(
            gkn_keyed,
            lambda x, i: ~F.exists(F.slice(gkn_keyed, 1, i), lambda y: y["k"] == x["k"]),
        ),
        lambda x: x["v"],
    )
    arend = F.when(F.size(arend_modern) > 0, arend_modern).otherwise(arend_gkn)

    def normalize(v):
        words = F.split(v, " ")
        n = F.size(words)
        titled_all = F.array_join(F.transform(words, F.initcap), " ")
        last3 = F.concat(
            F.array_join(F.slice(words, 1, n - 3), " "),
            F.lit(" "),
            F.array_join(F.transform(F.slice(words, n - 2, 3), F.initcap), " "),
        )
        return (
            F.when(v.contains('"'), v)
            .when(n == 4, titled_all)
            .when(n > 4, last3)  # < 4 words and no quote -> dropped (null)
        )

    stage6 = stage5.withColumn(
        "_w_new_arend", F.filter(F.transform(arend, normalize), lambda x: x.isNotNull())
    )
    new_arend = F.col("_w_new_arend")

    kvzu_j = (
        F.when(
            (F.size(new_arend) > 0) & (obrem_str != ""),
            F.concat(F.array_join(new_arend, ", "), F.lit("; "), obrem_str),
        )
        .when(obrem_str != "", obrem_str)
        .otherwise(F.array_join(new_arend, ", "))
    )
    j_col = F.when(egrn, egrn_j).otherwise(kvzu_j)

    # --- K: enc_name_reg_numb_date_duration ------------------------------
    def kvzu_dur_entry(e):
        # term non-null == Duration element present (parse contract);
        # docs may be absent -> the reference's ''.join (:659-661)
        return F.when(
            e["term"].isNotNull() & e["enc_code"].isNull(),
            F.concat(
                F.coalesce(F.array_join(e["docs"], ", "), F.lit("")),
                F.lit(", срок действия: "), e["term"],
            ),
        )

    def gkn_nrd_entry(e):
        return F.when(
            e["enc_code"].isNotNull()
            & e["reg_number"].isNotNull()
            & e["reg_date"].isNotNull(),
            F.concat(
                F.element_at(enc_map, e["enc_code"]),
                F.lit(" №"), e["reg_number"], F.lit(" от "), e["reg_date"],
            ),
        )

    stage7 = stage6.withColumn(
        "_w_kvzu_k_modern", F.array_distinct(entries(encs, kvzu_dur_entry))
    )
    kvzu_k_modern = F.col("_w_kvzu_k_modern")

    kvzu_k = (
        F.when(F.size(kvzu_k_modern) > 0, F.array_join(kvzu_k_modern, "; "))
        .otherwise(joinor(F.array_distinct(entries(encs, gkn_nrd_entry)), "; ", ""))
    )

    def egrn_nrd_entry(e):
        return F.when(
            e["enc_name"].isNotNull()
            & e["reg_number"].isNotNull()
            & e["reg_date"].isNotNull()
            & e["term"].isNotNull(),
            F.concat(
                e["enc_name"], F.lit(" №"), e["reg_number"], F.lit(" от "),
                e["reg_date"], F.lit(", "), e["term"],
            ),
        )

    egrn_k = joinor(entries(encs, egrn_nrd_entry), ", ", "-")

    out = stage7.withColumns(
        {
            "own_name_reg_numb_date": F.when(egrn, egrn_i).otherwise(kvzu_i),
            "encumbrances_str": j_col,
            "enc_name_reg_numb_date_duration": F.when(egrn, egrn_k).otherwise(kvzu_k),
        }
    )
    # drop the temps staged above and only them: a bare prefix scan would
    # also eat a caller column that happens to start with "_w_", while a
    # literal name list silently leaks any future temp — so drop the
    # "_w_" columns that were NOT in the input
    staged = [
        c for c in out.columns
        if c.startswith("_w_") and c not in parcels.columns
    ]
    return out.drop(*staged)
