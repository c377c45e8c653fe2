"""Plan-shape regression tests via the plans helper: the shapes SURVEY §4
commits to must hold on real parquet scans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rosreestr_xml_to_gis_converter_spark.plans import plan_checks
from rosreestr_xml_to_gis_converter_spark.queries_ref import j1_classifier_join, load


def test_classifier_join_broadcasts_and_prunes(spark, sf_dir):
    pc = plan_checks(j1_classifier_join(spark, sf_dir), execute=True)
    assert pc.has_broadcast_join()
    assert pc.python_stages() == 0
    cols = pc.scan_columns()
    assert cols and set(cols) <= {"n_nationkey", "n_name", "n_regionkey"}


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey")
    )
    plan = plan_checks(df).final
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan


def test_agg_is_partial_then_final_no_python(spark, sf_dir):
    from rosreestr_xml_to_gis_converter_spark.queries_ref import a1_owner_agg

    pc = plan_checks(a1_owner_agg(spark, sf_dir), execute=True)
    assert pc.python_stages() == 0
    assert pc.final.count("HashAggregate") >= 2  # map-side partial + final


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Co-located bucketed join (sources/catalog.write_bucketed): two
    tables bucketed identically on the join key must equi-join with ZERO
    Exchange operators — the 100 TB play for the write-once/join-daily
    parcel-cover layer.  The same join on plain parquet shuffles both
    sides (control)."""
    from rosreestr_xml_to_gis_converter_spark.sources.catalog import Catalog

    spark.sql("DROP TABLE IF EXISTS b_images")
    spark.sql("DROP TABLE IF EXISTS b_cover")
    cat = Catalog(spark, str(tmp_path / "wh"))
    images = spark.range(0, 100_000).selectExpr(
        "concat('img-', id) AS image_id", "CAST(id % 997 AS LONG) AS cell"
    )
    cover = spark.range(0, 997).selectExpr(
        "CAST(id AS LONG) AS cell", "concat('cad-', id % 40) AS cad_number"
    )
    cat.write_bucketed(images, "b_images", ["cell"], n_buckets=8, sort_cols=["cell"])
    cat.write_bucketed(cover, "b_cover", ["cell"], n_buckets=8, sort_cols=["cell"])

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = cat.read_table("b_images").join(cat.read_table("b_cover"), "cell")
        assert joined.count() == 100_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Exchange" not in final, final
        assert "SortMergeJoin" in final

        # control: the identical join over non-bucketed parquet shuffles
        images.write.mode("overwrite").parquet(str(tmp_path / "plain_i"))
        cover.write.mode("overwrite").parquet(str(tmp_path / "plain_c"))
        plain = spark.read.parquet(str(tmp_path / "plain_i")).join(
            spark.read.parquet(str(tmp_path / "plain_c")), "cell"
        )
        plain.count()
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_images")
        spark.sql("DROP TABLE IF EXISTS b_cover")


def test_ivf_topk_plan_broadcast_no_python(spark):
    """IVF ANN (round 3): cell assignment / probe selection are codegen'd
    Column arithmetic over the centroid literal array, the query side is
    broadcast, and NO Python stage appears anywhere in the plan — the
    corpus is touched only by JVM expressions."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.operators.similarity import ivf_topk

    emb = spark.range(0, 2000).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> CAST(pmod(id * i, 97) + 1 AS FLOAT) / 97.0) AS embedding",
    )
    q = emb.filter(F.col("vec_id") < 4)
    cents = np.random.default_rng(5).standard_normal((4, 8))
    pc = plan_checks(ivf_topk(emb, q, k=3, centroids=cents, nprobe=2), execute=True)
    assert pc.python_stages() == 0
    assert pc.has_broadcast_join()


def test_owner_summary_plan_no_python(spark):
    """The full owner branch tree (round 3) stays entirely JVM-side:
    one aggregation over the rights rows (collect_set/collect_list via
    ObjectHashAggregate), no Python stage, no cartesian product."""
    import pandas as pd

    from rosreestr_xml_to_gis_converter_spark.operators.attrs import owner_summary

    rights = spark.createDataFrame(
        pd.DataFrame(
            [("d1", "Долевая собственность", "A", 2, "1/2")],
            columns=["doc_id", "right_type", "owner", "share_den", "share_text"],
        ),
        schema="doc_id string, right_type string, owner string, "
        "share_den long, share_text string",
    )
    parcels = spark.createDataFrame(
        pd.DataFrame(
            [("d1", "Прочее", "Калининский")],
            columns=["doc_id", "category", "district_name"],
        )
    )
    pc = plan_checks(owner_summary(rights, parcels), execute=True)
    assert pc.python_stages() == 0
    assert "CartesianProduct" not in pc.final
    assert "ObjectHashAggregate" in pc.final or "SortAggregate" in pc.final


@pytest.mark.parametrize("query", ["knn_parcels", "knn_escalated"])
def test_knn_grid_fallback_single_scan_no_shuffle(spark, sf_dir, query):
    """The <k-candidates whole-layer fallback must NOT rescan the image
    side (a covered/frontier union would scan it twice — the bug class
    this pins) and must add no Exchange on the big side: one parquet
    scan of lineitem, one Arrow top-k stage, and no Exchange other than
    the gate query's dropDuplicates on the lineitem keys.  ``knn_escalated``
    leaves every image's base disk short, so all of them take the
    fallback, with the layer collected behind the default guard."""
    from rosreestr_xml_to_gis_converter_spark.queries_engine import ENGINE_QUERIES

    df = ENGINE_QUERIES[query](spark, sf_dir)
    pc = plan_checks(df, execute=True)
    # every image row is ranked in exactly one Python (Arrow) stage
    assert pc.python_stages() == 1
    # exactly ONE scan of the image-side parquet (lineitem)
    assert pc.final.count("Scan parquet") - pc.final.count("Scan parquet spark_catalog") <= 2
    assert pc.final.lower().count("lineitem") <= 2  # scan + its reuse marker at most
    # the big side never shuffles: the only Exchange in the plan is the
    # dropDuplicates on (l_orderkey, l_linenumber) in knn_parcels — a
    # rescan (its own or a Reused Exchange) or any repartition of the
    # image rows adds another
    exchanges = [ln.strip() for ln in pc.final.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert exchanges[0].startswith(
        "+- Exchange hashpartitioning(l_orderkey#"
    ) and ", l_linenumber#" in exchanges[0], exchanges


def test_lsh_topk_plan_one_python_stage_one_scan(spark, tmp_path):
    """Sign-LSH top-k: the query side is collected and broadcast as a
    probe index before the plan runs, so the executed plan holds exactly
    one Python (``MapInArrow``) stage over one scan of the embeddings
    parquet, and no broadcast hash join — the bucket join happens inside
    the kernel."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.operators.similarity import lsh_topk

    rng = np.random.default_rng(3)
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(400)],
        "vec_id long, embedding array<float>",
    ).write.parquet(path)
    emb = spark.read.parquet(path)
    pc = plan_checks(lsh_topk(emb, emb.filter(F.col("vec_id") < 6), k=3, n_planes=4), execute=True)
    assert pc.python_stages() == 1, pc.final
    assert pc.final.count("MapInArrow") == 1, pc.final
    scans = [ln for ln in pc.final.splitlines() if "FileScan" in ln]
    assert len(scans) == 1 and "/emb]" in scans[0], scans
    assert not pc.has_broadcast_join(), pc.final


def test_minhash_lsh_pairs_plan_one_kernel_reused_band_exchange(spark, tmp_path):
    """MinHash-LSH: signatures and band keys come from one ``MapInArrow``
    kernel, and the band self-join builds from a reuse of the one
    ``(band, bucket)`` exchange, so the kernel runs once per call; no
    interpreted minhash (``xxhash64`` / ``array_min``) is left.  Every
    ``documents`` scan shingles each row once: no filter repeats the
    shingle expression above the scan."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import minhash_lsh_pairs
    from rosreestr_xml_to_gis_converter_spark.plans.explain import PlanChecks, executed_plan

    words = "parcel survey boundary polygon raster tile image river forest field road".split()
    rng = np.random.default_rng(4)
    texts = [" ".join(rng.choice(words, 30)) for _ in range(300)]
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts + texts[:20])], "doc_id long, text string"
    ).write.parquet(path)
    df = minhash_lsh_pairs(spark.read.parquet(path), threshold=0.5, n_hashes=16, bands=8)
    assert len(df.collect()) >= 20
    pc = PlanChecks(executed_plan(df))
    lines = pc.final.splitlines()
    assert pc.final.count("MapInArrow") == 1, pc.final
    assert "xxhash64(" not in pc.final and "array_min(" not in pc.final, pc.final
    join = [i for i, ln in enumerate(lines) if "Join [band#" in ln]
    band_x = [
        i for i, ln in enumerate(lines)
        if "Exchange hashpartitioning(band#" in ln and "REPARTITION_BY_COL" in ln
    ]
    reused = [i for i in band_x if "ReusedExchange" in lines[i]]
    assert len(join) == 1 and "BuildRight" in lines[join[0]], pc.final
    # the stream side reads the exchange, the build side (printed after
    # it) reads its reuse
    assert len(band_x) == 2 and len(reused) == 1, pc.final
    assert join[0] < band_x[0] < reused[0], pc.final
    scans = [ln for ln in lines if "FileScan" in ln and "/docs]" in ln]
    shingles = [ln for ln in lines if "split(lower(" in ln and "FileScan" not in ln]
    assert len(scans) == 2 and len(shingles) == len(scans), pc.final


@pytest.mark.parametrize("operator", ["hamming", "simhash", "embedding"])
def test_band_pairs_verify_below_dedup(spark, operator):
    """The banded near-dup operators verify each candidate pair BEFORE
    the pair dedup: the radius/threshold predicate sits below the
    ``dropDuplicates`` aggregate (Catalyst folds it into the join
    condition), so the dedup shuffles only the pairs that pass."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.operators.dedupe import (
        hamming_near_pairs,
        simhash_near_pairs,
    )
    from rosreestr_xml_to_gis_converter_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(8)
    if operator == "hamming":
        df = spark.createDataFrame(
            [(i, int(h)) for i, h in enumerate(rng.integers(-(2**62), 2**62, 40))],
            "id long, h long",
        )
        pairs, verify = hamming_near_pairs(df, max_hamming=4), "<= 4)"
    elif operator == "simhash":
        df = spark.createDataFrame(
            [(i, " ".join(rng.choice(list("abcdefgh"), 20))) for i in range(40)],
            "doc_id long, text string",
        )
        pairs, verify = simhash_near_pairs(df, max_hamming=8), "<= 8)"
    else:
        df = spark.createDataFrame(
            [(i, rng.standard_normal(8).tolist()) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        pairs = embedding_near_dup_pairs(df, threshold=0.9, n_planes=8, bands=3)
        verify = ">= 0.9)"
    lines = pairs._jdf.queryExecution().optimizedPlan().toString().splitlines()
    dedup = [i for i, ln in enumerate(lines) if "Aggregate [id_a#" in ln]
    checks = [i for i, ln in enumerate(lines) if verify in ln]
    assert len(dedup) == 1 and checks, "\n".join(lines)
    assert min(checks) > dedup[0], "\n".join(lines)


def test_export_is_one_pass_over_the_parse(spark, tmp_path):
    """The SHP + XLSX export over an uncached ``parse_extracts`` lineage
    is one per-document plan: the parse's ``MapInPandas`` appears once,
    with no Exchange (broadcast or shuffle) and no Join between the
    parsed layer and the sink rows.  ``export_outputs`` collects that plan
    in one job of one stage with one task per partition, so every document
    is parsed and resolved exactly once."""
    import numpy as np

    from rosreestr_xml_to_gis_converter_spark.pipeline import document_rows, export_outputs
    from rosreestr_xml_to_gis_converter_spark.sources.synth_xml import (
        build_record_xml,
        egrn_right_records,
        kvzu_xml,
        land_record_xml,
    )
    from rosreestr_xml_to_gis_converter_spark.sources.xml_extract import parse_extracts

    sq = np.array([[10.0, 50.0], [14.0, 50.0], [14.0, 54.0], [10.0, 54.0], [10.0, 50.0]])
    rr = egrn_right_records([{"type": "Собственность", "holders": [("legal", "ООО Луг", "771")]}])
    docs = [
        ("a.xml", kvzu_xml("69:1:1:1", [sq], rights=[{"code": "001001000000", "owner": "Иванов Иван"}])),
        ("b.xml", land_record_xml("50:2:2:2", None, contours={"50:2:2:2(1)": [sq]}, right_records=rr)),
        ("c.xml", kvzu_xml("69:3:3:3", None, entry_rings={"69:3:3:31": [sq], "69:3:3:32": [sq + 2.0]})),
        ("d.xml", build_record_xml("69:40:2:8", [sq])),
    ]
    files = spark.createDataFrame(
        [(n, bytearray(x.encode())) for n, x in docs], "path string, content binary"
    )
    parsed = parse_extracts(files)

    pc = plan_checks(document_rows(parsed), execute=True)
    assert pc.final.count("MapInPandas") == 1 and pc.python_stages() == 1, pc.final
    assert "Exchange" not in pc.final, pc.final
    assert "Join" not in pc.final, pc.final

    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup("export-one-pass", "export")
    try:
        res = export_outputs(parsed, str(tmp_path / "exp"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res == {"n_shp_records": 5, "n_xlsx_rows": 5}
    n_parts = parsed.rdd.getNumPartitions()
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup("export-one-pass")]
    assert len(jobs) == 1 and jobs[0].status == "SUCCEEDED", jobs
    stages = [st.getStageInfo(s) for s in jobs[0].stageIds]
    assert len(stages) == 1 and stages[0].numTasks == n_parts, stages
