"""Session factory defaults."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import types

import pytest
from pyspark.sql import SparkSession

from rosreestr_xml_to_gis_converter_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_master_defaults_to_host_cores(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the local master gets one task slot
    per core this process may run on, not a fixed count; Python workers
    start from the package's daemon."""
    seen = {}

    def get_or_create(builder):
        seen.update(builder._options)
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_spark("defaults")
    assert seen["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark("defaults")
    assert seen["spark.master"] == "local[3]"
    session.get_spark("defaults", cores=2)
    assert seen["spark.master"] == "local[2]"
    # workers fork from the package's daemon and import the package from
    # the directory holding it; ``extra_conf`` still overrides both
    module = seen["spark.python.daemon.module"]
    assert module == "rosreestr_xml_to_gis_converter_spark.worker_daemon"
    root = seen["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, *module.split(".")) + ".py")
    session.get_spark("defaults", extra_conf={"spark.executorEnv.PYTHONPATH": "/elsewhere"})
    assert seen["spark.executorEnv.PYTHONPATH"] == "/elsewhere"


def test_worker_tasks_keep_zip_directories(spark):
    """pyspark's worker calls ``importlib.invalidate_caches()`` on every
    task; under the package daemon that no longer re-reads the central
    directory of the zip archives on the worker path."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        imps = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        before = [id(imp._files) for imp in imps]
        importlib.invalidate_caches()
        kept = sum(b == id(imp._files) for b, imp in zip(before, imps))
        yield pa.RecordBatch.from_pydict({"zips": [len(imps)], "kept": [kept]})

    rows = spark.range(0, 4, 1, 4).mapInArrow(probe, "zips long, kept long").collect()
    if not any(r.zips for r in rows):
        pytest.skip("no zipimporter on the worker path")
    assert all(r.kept == r.zips for r in rows), rows


def test_workers_import_package_from_any_directory(tmp_path):
    """A script that puts the repository on its own ``sys.path`` and runs
    from elsewhere: its Python tasks unpickle the package's kernels, so
    the workers must find the package wherever the script runs."""
    script = tmp_path / "knn.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from rosreestr_xml_to_gis_converter_spark.operators.knn import knn_literal
            from rosreestr_xml_to_gis_converter_spark.session import get_spark
            from rosreestr_xml_to_gis_converter_spark.synth import TESTDATA_BOX as b

            spark = get_spark("anywhere", cores=2, shuffle_partitions=2)
            images = spark.createDataFrame([("img", 0)], "image_id string, phash bigint")
            rows = knn_literal(images, [("a", b.lon0, b.lat0), ("b", b.lon0 + 1, b.lat0)], b, k=1).collect()
            print("ROWS", [(r.image_id, r.cad_number, r["rank"]) for r in rows])
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS [('img', 'a', 1)]" in proc.stdout, proc.stdout[-2000:]
