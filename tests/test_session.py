"""Session factory defaults."""

from __future__ import annotations

import ast
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
    per core this process may run on, not a fixed count."""
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
    # workers import the package from the directory holding it;
    # ``extra_conf`` still overrides that
    root = seen["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, "rosreestr_xml_to_gis_converter_spark", "__init__.py"))
    session.get_spark("defaults", extra_conf={"spark.executorEnv.PYTHONPATH": "/elsewhere"})
    assert seen["spark.executorEnv.PYTHONPATH"] == "/elsewhere"


def test_worker_tasks_keep_zip_directories(tmp_path):
    """pyspark's worker calls ``importlib.invalidate_caches()`` on every
    task; once a worker has imported the package that no longer re-reads
    the central directory of the zip archives on its path.  The session is
    a plain ``SparkSession.builder`` one in a fresh process, so no warm
    worker of another session hides a miss."""
    script = tmp_path / "zips.py"
    script.write_text(
        textwrap.dedent(
            """
            from pyspark.sql import SparkSession

            def probe(batches):
                import importlib
                import sys
                import zipimport

                import pyarrow as pa

                import rosreestr_xml_to_gis_converter_spark  # noqa: F401

                for _ in batches:
                    pass
                imps = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
                before = [id(imp._files) for imp in imps]
                importlib.invalidate_caches()
                kept = sum(b == id(imp._files) for b, imp in zip(before, imps))
                yield pa.RecordBatch.from_pydict({"zips": [len(imps)], "kept": [kept]})

            spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
            for _ in range(2):
                rows = spark.range(0, 4, 1, 4).mapInArrow(probe, "zips long, kept long").collect()
                print("ROWS", [(r.zips, r.kept) for r in rows])
            spark.stop()
            """
        )
    )
    env = {**os.environ, "PYTHONPATH": REPO}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = [ast.literal_eval(ln[5:]) for ln in proc.stdout.splitlines() if ln.startswith("ROWS ")]
    assert len(rows) == 2, proc.stdout[-2000:]
    if not any(z for run in rows for z, _ in run):
        pytest.skip("no zipimporter on the worker path")
    assert all(k == z for run in rows for z, k in run), rows


def test_driver_import_keeps_stdlib_zip_caches():
    """Importing the package outside a pyspark worker leaves
    ``zipimport.zipimporter.invalidate_caches`` as the stdlib function."""
    code = (
        "import zipimport; stdlib = zipimport.zipimporter.invalidate_caches; "
        "import rosreestr_xml_to_gis_converter_spark; "
        "assert zipimport.zipimporter.invalidate_caches is stdlib"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


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
