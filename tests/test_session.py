"""Python worker daemon (``geotrellis_contrib_spark.pyworker``): workers run
the installed, byte-compiled PySpark instead of Spark's zipped copy, and the
path rule falls back to Spark's own path when the versions differ."""

import os
import sys
import zipfile

import pyspark
import pytest

from geotrellis_contrib_spark import pyworker


def _bundled_version():
    z = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib",
                     "pyspark.zip")
    if not os.path.exists(z):
        return None
    with zipfile.ZipFile(z) as f:
        return pyworker._version(f.read("pyspark/version.py").decode())


def test_workers_import_unzipped_pyspark(spark):
    bundled = _bundled_version()
    if bundled is not None and bundled != pyspark.__version__:
        pytest.skip(f"installed PySpark {pyspark.__version__} differs from "
                    f"Spark's bundled {bundled}: the daemon keeps the zip")

    def worker_imports(batches):   # nested: pickled by value, not by module
        import zipimport

        import pandas as pd
        import pyspark as ps
        for _ in batches:
            zips = [k for k, v in sys.path_importer_cache.items()
                    if isinstance(v, zipimport.zipimporter)]
            yield pd.DataFrame({"pyspark_file": [ps.__file__],
                                "zip_importers": [",".join(zips)]})

    rows = spark.range(0, 4, 1, 2).mapInPandas(
        worker_imports, "pyspark_file string, zip_importers string").collect()
    assert len(rows) == 2
    for r in rows:
        assert ".zip" not in r.pyspark_file, r.pyspark_file
        assert r.zip_importers == ""


def _fake_spark_lib(tmp_path, version):
    lib = tmp_path / "lib"
    lib.mkdir()
    z = str(lib / "pyspark.zip")
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("pyspark/__init__.py", "")
        f.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return z, str(lib / "py4j-0.10.9.9-src.zip"), str(tmp_path / "spark-core_2.13-x.jar")


def _fake_path(tmp_path, version):
    bundled = _fake_spark_lib(tmp_path, version)
    rest = [p for p in sys.path if not pyworker._BUNDLED.match(os.path.basename(p))]
    path = [rest[0], *bundled, *rest[1:]]
    cache = {bundled[0]: object(), os.path.join(bundled[0], "pyspark", ""): object(),
             bundled[1]: object(), "/elsewhere": object()}
    return bundled, path, cache


def test_path_rule_keeps_path_when_versions_differ(tmp_path):
    _, path, cache = _fake_path(tmp_path, "0.0.1")
    before_path, before_cache = list(path), dict(cache)
    assert not pyworker.drop_bundled(path, cache)
    assert path == before_path and cache == before_cache


def test_path_rule_drops_bundled_copies_of_same_version(tmp_path):
    bundled, path, cache = _fake_path(tmp_path, pyspark.__version__)
    expect = [p for p in path if p not in bundled]
    assert pyworker.drop_bundled(path, cache)
    assert path == expect
    assert list(cache) == ["/elsewhere"]
