"""worker_daemon: Spark's own archives leave the Python workers' import path
only when an installed pyspark of the same version can replace them."""

import os
import sys
import zipfile
from importlib.machinery import PathFinder

import pytest

from information_retrieval_images_spark.worker_daemon import strip_spark_archives


def _zip(path, files):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _pyspark(version):
    return {"pyspark/__init__.py": "", "pyspark/version.py": f'__version__: str = "{version}"\n'}


@pytest.fixture()
def layout(tmp_path, monkeypatch):
    """A Spark install reached through a SPARK_HOME symlink to a versioned
    directory (the jar path Spark puts on PYTHONPATH is the resolved one),
    a user --py-files zip, and site-packages."""
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    real = tmp_path / "spark-9.9.9"
    lib = real / "python" / "lib"
    archives = [
        _zip(lib / "pyspark.zip", _pyspark("9.9.9")),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(real / "jars" / "spark-core_2.13-9.9.9.jar", {"org/apache/Spark.class": ""}),
    ]
    home = tmp_path / "spark"
    home.symlink_to(real)
    user_zip = _zip(tmp_path / "work" / "ir_spark.zip", {"ir_pkg/__init__.py": ""})
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    path = [str(tmp_path / "work")] + [a.replace(str(real), str(home)) for a in archives[:2]]
    path += [archives[2], user_zip, str(site)]
    return str(home), path, site


def _install_pyspark(site, version):
    (site / "pyspark").mkdir()
    for name, text in _pyspark(version).items():
        (site / name).write_text(text)


def test_drops_spark_archives_keeps_user_zip(layout):
    home, path, site = layout
    _install_pyspark(site, "9.9.9")
    assert strip_spark_archives(path, home) == [path[0], path[4], str(site)]


def test_unchanged_when_pyspark_only_in_archive(layout):
    home, path, _ = layout
    assert strip_spark_archives(path, home) == path


def test_unchanged_when_installed_version_differs(layout):
    home, path, site = layout
    _install_pyspark(site, "9.9.8")
    assert strip_spark_archives(path, home) == path


def test_unchanged_without_spark_home(layout):
    _, path, site = layout
    _install_pyspark(site, "9.9.9")
    assert strip_spark_archives(path, None) == path


def _installed_pyspark() -> bool:
    return PathFinder.find_spec("pyspark", [p for p in sys.path if p and os.path.isdir(p)]) is not None


@pytest.mark.skipif(not _installed_pyspark(), reason="no installed pyspark outside Spark's archives")
def test_workers_import_installed_pyspark(spark):
    def probe(_):
        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if type(v).__name__ == "zipimporter"]
        yield pyspark.__file__, zips

    pyspark_file, zips = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    assert os.path.isfile(pyspark_file), pyspark_file  # not a member of an archive
    assert zips == []
