"""Session settings for Python workers: the package's daemon takes Spark's
zip and jar archives off the worker's import path."""

from __future__ import annotations

import os
import zipfile

import samu_ocr_extraction_poc_spark
from samu_ocr_extraction_poc_spark.pydaemon import pruned_path


def test_python_worker_imports_pyspark_outside_spark_archives(spark):
    def worker_imports(_):
        import sys
        import zipimport

        import pyspark

        from samu_ocr_extraction_poc_spark.pydaemon import is_spark_archive

        yield (
            [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)],
            [p for p in sys.path if is_spark_archive(p)],
            pyspark.__file__,
            os.path.isfile(pyspark.__file__),
            pyspark.__version__,
        )

    [(zipimporters, archives, file, is_file, version)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(worker_imports).collect()
    )
    assert zipimporters == []
    assert archives == []
    assert is_file, file  # not a member of pyspark.zip
    assert version == spark.version


def test_executor_pythonpath_holds_the_package_parent(spark):
    parent = os.path.dirname(os.path.dirname(os.path.abspath(samu_ocr_extraction_poc_spark.__file__)))
    entries = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert parent in entries


def _zip(path, members: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)
    return str(path)


def _package(root, name: str, files: dict[str, str]) -> None:
    (root / name).mkdir(parents=True)
    for fname, text in {"__init__.py": "", **files}.items():
        (root / name / fname).write_text(text)


def test_pruned_path_drops_spark_archives_only_for_the_same_pyspark(tmp_path):
    spark_zip = _zip(
        tmp_path / "spark/python/lib/pyspark.zip",
        {"pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '9.1.2'\n"},
    )
    py4j_zip = _zip(tmp_path / "spark/python/lib/py4j-0.1-src.zip", {"py4j/__init__.py": ""})
    jar = _zip(tmp_path / "spark/jars/spark-core.jar", {"org/Main.class": ""})
    user_zip = _zip(tmp_path / "user/deps.zip", {"mylib/__init__.py": ""})

    def site(name, version="9.1.2", py4j=True, pyspark=True):
        root = tmp_path / name
        root.mkdir()
        if pyspark:
            _package(root, "pyspark", {"version.py": f"__version__: str = '{version}'\n"})
        if py4j:
            _package(root, "py4j", {})
        return str(root)

    def path(site_dir):
        return [spark_zip, py4j_zip, jar, user_zip, site_dir]

    same = site("same")
    assert pruned_path(path(same)) == [user_zip, same]

    for other in (site("newer", version="9.2.0"), site("no-py4j", py4j=False),
                  site("no-pyspark", pyspark=False)):
        assert pruned_path(path(other)) == path(other)
