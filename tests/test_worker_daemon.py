"""Python workers import the installed pyspark, not Spark's bundled zip,
and the daemon leaves Spark's path alone when the installed copy would
not match the bundled one."""

import zipfile

import pyspark

from zuliasearch_spark.worker_daemon import worker_path


def test_python_task_imports_installed_pyspark(spark):
    def worker_imports(_):  # nested: pickled by value, not by this module's name
        import sys
        import zipimport

        import pyspark as worker_pyspark

        cache = sys.path_importer_cache.items()
        zips = [k for k, v in cache if isinstance(v, zipimport.zipimporter)]
        return worker_pyspark.__file__, worker_pyspark.__version__, zips

    [(path, version, zips)] = spark.sparkContext.parallelize([0], 1).map(worker_imports).collect()
    assert ".zip" not in path and ".jar" not in path
    assert version == pyspark.__version__
    assert zips == []


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)


def test_path_kept_when_installed_copy_differs_or_is_missing(tmp_path):
    spark_zip = tmp_path / "lib" / "pyspark.zip"
    spark_zip.parent.mkdir()
    with zipfile.ZipFile(spark_zip, "w") as zf:
        zf.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    py4j_zip = tmp_path / "lib" / "py4j-0.10.9.9-src.zip"
    bundled = [str(spark_zip), str(py4j_zip), str(tmp_path / "spark-core_2.13-4.1.2.jar")]

    same, other, empty = tmp_path / "same", tmp_path / "other", tmp_path / "empty"
    _write(same / "pyspark" / "version.py", "__version__: str = '4.1.2'\n")
    _write(same / "py4j" / "version.py", "__version__ = '0.10.9.9'\n")
    _write(other / "pyspark" / "version.py", "__version__: str = '4.0.1'\n")
    _write(other / "py4j" / "version.py", "__version__ = '0.10.9.9'\n")
    empty.mkdir()
    for d in (same, other):
        (d / "pyspark" / "__init__.py").touch()
        (d / "py4j" / "__init__.py").touch()

    assert worker_path(bundled + [str(same)]) == [str(same)]
    for site in (other, empty):
        path = bundled + [str(site)]
        assert worker_path(path) == path
    # a py4j of another version is not used either
    _write(other / "pyspark" / "version.py", "__version__: str = '4.1.2'\n")
    _write(other / "py4j" / "version.py", "__version__ = '0.10.9.7'\n")
    path = bundled + [str(other)]
    assert worker_path(path) == path
