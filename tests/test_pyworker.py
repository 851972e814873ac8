"""The engine's Python worker entry (knowledge_model_spark.pyworker): zip
archives on the worker path are re-read only when they change, every
task of a get_spark session runs under it, and the daemon starts
whatever the driver's cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from knowledge_model_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_keeps_its_directory_and_a_rewritten_one_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"kms_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("kms_zip_a").X == 1
        importer = sys.path_importer_cache[archive]
        assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches
        importlib.invalidate_caches()
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files

        _write_zip(archive, {"kms_zip_a": "X = 1\n", "kms_zip_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module("kms_zip_b").Y == 2
    finally:
        for name in ("kms_zip_a", "kms_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_task_rereads_no_unchanged_archive(spark):
    def zip_reads(_):
        import importlib
        import zipimport

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return f"{len(reads)} {zipimport.zipimporter.invalidate_caches.__code__.co_filename}"

    task = F.udf(zip_reads, "string")
    reads, entry = spark.range(1).select(task("id")).first()[0].split(" ", 1)
    assert reads == "0"
    assert entry == pyworker.__file__


def test_session_started_outside_the_repo_runs_python_udfs(tmp_path):
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import functions as F\n"
        "from knowledge_model_spark.session import get_spark\n"
        "spark = get_spark('pyworker-cwd', cpus=1)\n"
        "plus_one = F.udf(lambda x: x + 1, 'long')\n"
        "print('SUM', spark.range(3).select(F.sum(plus_one('id'))).first()[0])\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "SUM 6" in out.stdout, out.stderr[-4000:]
