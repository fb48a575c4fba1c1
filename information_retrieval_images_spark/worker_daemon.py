"""Python worker daemon for local masters: ``pyspark.daemon`` without Spark's
own archives on ``sys.path``.

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar ahead of site-packages. Every task then
runs ``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), and on Python 3.11 every cached ``zipimporter``
re-reads its archive's central directory: once per pyspark subpackage
imported from the zip, and once for the 5k-entry jar, which holds no Python
at all: 0.19 s per task on a 4-CPU x86 host, against 31 us without them.
When a pyspark of the same version (and a py4j) is importable without
those archives, this module drops them from ``sys.path`` and
``sys.path_importer_cache`` before importing
``pyspark.daemon``, so the daemon and the workers it forks import the
installed pyspark and the per-task invalidation only touches directory
finders. User archives (the ``--py-files`` package zip) are never dropped.
``session.get_spark`` selects this module for local masters.
"""

from __future__ import annotations

import os
import re
import sys
from importlib.machinery import PathFinder


def _pyspark_version(path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None or not spec.submodule_search_locations:
        return None
    try:
        src = spec.loader.get_data(os.path.join(spec.submodule_search_locations[0], "version.py"))
    except OSError:
        return None
    m = re.search(rb"__version__[^=]*=\s*[\"']([^\"']+)", src)
    return m.group(1) if m else None


def strip_spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` minus the zips in ``$SPARK_HOME/python/lib`` and the jars in
    ``$SPARK_HOME/jars``; ``path`` unchanged when the remaining entries hold
    no py4j or no pyspark of the version the full path imports."""
    if not spark_home:
        return list(path)
    home = os.path.realpath(spark_home)
    spark_dirs = {os.path.join(home, "python", "lib"), os.path.join(home, "jars")}
    kept = [
        p
        for p in path
        if not (p.endswith((".zip", ".jar")) and os.path.dirname(os.path.realpath(p)) in spark_dirs)
    ]
    if len(kept) == len(path) or PathFinder.find_spec("py4j", kept) is None:
        return list(path)
    version = _pyspark_version(kept)
    return kept if version is not None and version == _pyspark_version(path) else list(path)


def main() -> None:
    kept = strip_spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
