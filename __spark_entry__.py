"""Driver contract (PySpark target).

``entry(spark)`` runs the flagship spatial join on sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md section 2 with DuckDB oracles (rows-only for the ops whose
hashing/engine internals SQL cannot express — see queries_engine.py).

The driver checks only the first ``DRIVER_WINDOW`` (50) queries in dict
order, so ``queries()`` orders them explicitly: every registered query
not named in ``_TAIL`` comes first, then the ``_TAIL`` queries in list
order.  ``_TAIL`` holds queries whose oracle another window query
already proves, or whose module is otherwise covered; ``queries()``
raises if the window would exceed ``DRIVER_WINDOW``, so a new query
means demoting one.  ``_DROPPED`` names organic rows-only variants left
out of the registry because a planted or exact-oracle twin proves the
same path; their operators stay in the package.  Tail queries remain
fully runnable — tier-1 tests parametrize all registered queries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rosreestr_xml_to_gis_converter_spark.queries_engine import (  # noqa: E402
    ENGINE_ORACLES,
    ENGINE_QUERIES,
    flagship_spatial_join,
)
from rosreestr_xml_to_gis_converter_spark.queries_extra import (  # noqa: E402
    EXTRA_ORACLES,
    EXTRA_QUERIES,
)
from rosreestr_xml_to_gis_converter_spark.queries_ingest import (  # noqa: E402
    INGEST_ORACLES,
    INGEST_QUERIES,
)
from rosreestr_xml_to_gis_converter_spark.queries_ref import (  # noqa: E402
    REF_ORACLES,
    REF_QUERIES,
)

DRIVER_WINDOW = 50

# Removed from the registry entirely (round-3 VERDICT next-round #8):
# rows-only organic variants carry no oracle signal in a capped gate; the
# planted-oracle twins in the window prove the same recall paths exactly.
# The operators stay in the package and keep their bench.py entries.
_DROPPED = [
    "dedup_minhash_lsh",   # planted twin: dedup_minhash_planted
    "dedup_simhash",       # planted twin: dedup_simhash_planted
    "dedup_embedding",     # planted twin: dedup_embedding_planted
    "sim_ann_lsh",         # planted twin: sim_ann_lsh_planted
    "image_validate",      # exact oracle twin: image_invariants
    "image_features",      # exact oracle twin: image_invariants
]

# Deprioritized to the tail (positions > DRIVER_WINDOW): redundant
# re-proofs of oracles that a window query already proves, plus
# statically-green scalar queries with green driver rows in three
# consecutive rounds (r01+r02+r03) — demoted per the standing rotation
# policy to make room for the round-3/4 oracle queries listed above.
_TAIL = [
    "flagship_spatial_join_salted",    # same oracle as flagship_spatial_join
    "flagship_spatial_join_shuffle",   # same oracle as flagship_spatial_join
    "knn_parcels_brute",               # same oracle as knn_parcels
    "knn_parcels_literal",             # same oracle as knn_parcels
    "setops",                          # green r02+r03; generic SQL breadth
    "cube_agg",                        # green r02+r03; rollup_agg covers the family
    "s1_scan",                         # green r01+r02+r03
    "p2_filter_anti",                  # green r01+r02+r03
    "e1_explode_entry",                # green r01+r02+r03
    "a2_set_dedup",                    # green r01+r02+r03
    "a3_conditional_default",          # green r01+r02+r03
    "f1_regex_cleanup",                # green r01+r02+r03
    "f3_date_invert",                  # green r01+r02+r03
    "f5_collision_suffix",             # green r01+r02+r03
    # demoted in round 5 under the changed-module rule's converse:
    # modules untouched in r4-r5, green driver rows r01-r04
    "j1_classifier_join",              # classifiers.py untouched; green r01-r04
    "g1_segmentation",                 # functions/geometry.py untouched; green r01-r04
    "g2_shoelace",                     # functions/geometry.py untouched; green r01-r04
    "g3_orientation",                  # functions/geometry.py untouched; green r01-r04
    "cell_encode",                     # index/grid.py untouched; green r01-r04
    "text_fingerprint",                # operators/textops.py untouched; green r01-r04
    # demoted late round 5 to admit cell_rollup (birth round: the
    # multi-resolution hypertable rollup over cell_parent_col, the one
    # grid primitive that had no oracle query); same grounds as
    # text_fingerprint
    "text_tokens",                     # operators/textops.py untouched; green r01-r04
    # demoted late round 5 to admit stream_neardup_matches (birth round:
    # the stream-static near-dup join + watermarked match aggregation —
    # the continuous-ingestion twin of the pHash near-dup path); same
    # grounds as text_tokens
    "text_quality",                    # operators/textops.py untouched; green r01-r04
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: images (derived from lineitem, input_hint shape) x
    H3-analog-indexed parcel layer -> exact containment rows."""
    return flagship_spatial_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged = {**REF_QUERIES, **ENGINE_QUERIES, **EXTRA_QUERIES, **INGEST_QUERIES}
    for k in _DROPPED:
        merged.pop(k, None)
    window = {k: v for k, v in merged.items() if k not in _TAIL}
    tail = {k: merged[k] for k in _TAIL if k in merged}
    if len(window) > DRIVER_WINDOW:
        # not an assert: python -O must not silently widen the window
        raise RuntimeError(
            f"{len(window)} queries in the driver window (> {DRIVER_WINDOW}); "
            "demote a redundant one to _TAIL"
        )
    return {**window, **tail}


def oracle_sql() -> dict[str, str]:
    merged = {**REF_ORACLES, **ENGINE_ORACLES, **EXTRA_ORACLES, **INGEST_ORACLES}
    for k in _DROPPED:
        merged.pop(k, None)
    return merged
