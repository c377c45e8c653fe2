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

# Removed from the registry entirely: rows-only organic variants carry no
# oracle signal in a capped gate; the planted-oracle twins in the window
# prove the same recall paths exactly.
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
# re-proofs of oracles that a window query already proves, plus scalar
# reference queries over stable modules, so the window holds the oracle
# queries that exercise the engine.
_TAIL = [
    "flagship_spatial_join_salted",    # same oracle as flagship_spatial_join
    "flagship_spatial_join_shuffle",   # same oracle as flagship_spatial_join
    "knn_parcels_brute",               # same oracle as knn_parcels
    "knn_parcels_literal",             # same oracle as knn_parcels
    "setops",                          # generic SQL breadth
    "cube_agg",                        # rollup_agg covers the family
    # scalar reference queries
    "s1_scan",
    "p2_filter_anti",
    "e1_explode_entry",
    "a2_set_dedup",
    "a3_conditional_default",
    "f1_regex_cleanup",
    "f3_date_invert",
    "f5_collision_suffix",
    "j1_classifier_join",              # classifiers.py
    "g1_segmentation",                 # functions/geometry.py
    "g2_shoelace",                     # functions/geometry.py
    "g3_orientation",                  # functions/geometry.py
    "cell_encode",                     # index/grid.py
    "text_fingerprint",                # operators/textops.py
    "text_tokens",                     # operators/textops.py
    "text_quality",                    # operators/textops.py
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
