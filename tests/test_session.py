"""The engine's Python worker daemon: workers carry no zip importers
and fork from a frozen heap, and the path rule that decides when
Spark's archives may be dropped."""

from __future__ import annotations

import os
import zipfile

from edgar_crawler_spark.pydaemon import without_archives


def _worker_imports(batches):
    import sys
    import zipimport

    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    n_zip = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    yield pd.DataFrame({"zip_importers": [n_zip], "pyspark": [pyspark.__file__]})


class TestWorkerPath:
    def test_worker_has_no_zip_importers(self, spark):
        row = (
            spark.range(1, numPartitions=1)
            .mapInPandas(_worker_imports, "zip_importers long, pyspark string")
            .collect()[0]
        )
        assert row.zip_importers == 0
        # inside pyspark.zip the package "directory" would not exist
        assert os.path.isdir(os.path.dirname(row.pyspark)), row.pyspark


def _worker_engine(batches):
    import sys

    import pandas as pd

    import edgar_crawler_spark

    for _ in batches:
        pass
    yield pd.DataFrame(
        {"safe_path": [sys.flags.safe_path], "engine": [edgar_crawler_spark.__file__]})


class TestWorkerEngine:
    def test_worker_imports_the_engine_from_its_root(self, spark):
        # the daemon runs as `python -m`, which without safe_path puts
        # the JVM's working directory first on the workers' path: a
        # driver started in another checkout would run that code
        from edgar_crawler_spark.session import _ENGINE_ROOT

        row = (
            spark.range(1, numPartitions=1)
            .mapInPandas(_worker_engine, "safe_path boolean, engine string")
            .collect()[0]
        )
        assert row.safe_path is True
        assert os.path.commonpath([row.engine, _ENGINE_ROOT]) == _ENGINE_ROOT, row


def _worker_heap(batches):
    import gc

    import pandas as pd

    for _ in batches:
        pass
    yield pd.DataFrame(
        {"frozen": [gc.get_freeze_count()], "tracked": [len(gc.get_objects())]})


class TestFrozenHeap:
    def test_worker_forks_from_a_frozen_heap(self, spark):
        # without the freeze, every task of a reused worker is followed
        # by a full collection over the whole heap, and nothing else
        # shows it
        row = (
            spark.range(1, numPartitions=1)
            .mapInPandas(_worker_heap, "frozen long, tracked long")
            .collect()[0]
        )
        assert row.frozen > 0
        assert row.frozen > row.tracked, row


def _installed(root, version, name="pyspark"):
    pkg = os.path.join(root, name)
    os.makedirs(pkg)
    with open(os.path.join(pkg, "__init__.py"), "w") as f:
        f.write("")
    with open(os.path.join(pkg, "version.py"), "w") as f:
        f.write(f"__version__: str = '{version}'\n")
    return str(root)


def _archive(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _spark_archives(tmp_path, version="4.1.2"):
    pyspark_zip = _archive(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f"__version__: str = '{version}'\n",
    })
    py4j_zip = _archive(tmp_path / "py4j-src.zip", {"py4j/__init__.py": ""})
    jar = _archive(tmp_path / "spark-core.jar", {"org/apache/A.class": "x"})
    return [pyspark_zip, py4j_zip, jar]


class TestWithoutArchives:
    def test_drops_archives_when_same_pyspark_is_a_directory(self, tmp_path):
        archives = _spark_archives(tmp_path)
        site = tmp_path / "site"
        _installed(site, "4.1.2")
        _installed(site, "0.10.9.9", name="py4j")
        path = ["/engine", *archives, str(site)]
        assert without_archives(path) == ["/engine", str(site)]

    def test_unchanged_when_pyspark_only_in_archive(self, tmp_path):
        archives = _spark_archives(tmp_path)
        site = tmp_path / "site"
        os.makedirs(site)
        path = ["/engine", *archives, str(site)]
        assert without_archives(path) == path

    def test_unchanged_when_versions_differ(self, tmp_path):
        archives = _spark_archives(tmp_path, version="4.1.2")
        site = tmp_path / "site"
        _installed(site, "4.0.0")
        _installed(site, "0.10.9.9", name="py4j")
        path = [*archives, str(site)]
        assert without_archives(path) == path

    def test_keeps_archive_with_modules_found_nowhere_else(self, tmp_path):
        archives = _spark_archives(tmp_path)
        deps = _archive(tmp_path / "deps.zip", {"onlyhere.py": "X = 1\n"})
        site = tmp_path / "site"
        _installed(site, "4.1.2")
        path = [*archives, deps, str(site)]
        # py4j exists only in its zip here, so that zip stays too
        assert without_archives(path) == [archives[1], deps, str(site)]
