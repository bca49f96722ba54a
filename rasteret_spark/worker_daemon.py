"""Python worker daemon that runs pyspark from its installed directory.

Spark starts Python workers with ``python -m <spark.python.daemon.module>``
and a ``PYTHONPATH`` that puts ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j source zip and the spark-core jar ahead of everything else.  Every task
then calls ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``), and on Python 3.11 that makes each cached
``zipimporter`` re-read its archive's central directory: ~1.3k entries per
imported pyspark subpackage plus ~5.4k for the jar.  That re-read, not Arrow
transfer or the kernel, is most of a trivial Python task's CPU.

When the same pyspark (byte-identical ``pyspark/version.py`` and
``py4j/version.py``) is installed as a directory further down ``sys.path``,
this daemon drops Spark's archives from ``sys.path`` and their importers from
``sys.path_importer_cache`` and then runs the stock ``pyspark.daemon``.  On
any mismatch it leaves ``sys.path`` exactly as Spark built it.  Other archives
on the path (a user's zip in ``PYTHONPATH``) are kept.

``session.get_spark`` selects this module.  It must not import pyspark, or
anything that does, before :func:`select_installed_pyspark` has run; nor
``copy`` or ``pickle``, whose ``org.python.core`` probe would leave an
``org`` namespace package, and its importer, inside the jar.
"""

from __future__ import annotations

import os
import sys
import zipfile

PACKAGES = ("pyspark", "py4j")


def _packed_versions(path: str) -> dict[str, bytes] | None:
    """``version.py`` of each of PACKAGES held by the zip archive ``path``;
    None when ``path`` is not a readable zip archive."""
    try:
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
            return {
                pkg: z.read(f"{pkg}/version.py")
                for pkg in PACKAGES if f"{pkg}/version.py" in names
            }
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _read_file(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def select_installed_pyspark(path: list[str], importer_cache: dict) -> bool:
    """Drop Spark's pyspark/py4j archives and jars from ``path`` (in place)
    and their entries, and any sub-path entries, from ``importer_cache``
    when the directory-installed pyspark and py4j that the remaining
    ``path`` resolves to carry the same ``version.py`` as the archives.
    Returns whether anything was removed."""
    versions = {p: _packed_versions(p) for p in path if os.path.isfile(p)}
    spark_archives = [p for p, v in versions.items() if v or p.endswith(".jar")]
    packed: dict[str, bytes] = {}
    for a in spark_archives:
        for pkg, v in (versions[a] or {}).items():
            packed.setdefault(pkg, v)
    remaining = [p for p in path if p not in spark_archives]
    for pkg in PACKAGES:
        installed = next(
            (os.path.join(d or os.curdir, pkg) for d in remaining
             if os.path.isfile(os.path.join(d or os.curdir, pkg, "__init__.py"))),
            None,
        )
        if installed is None or pkg not in packed:
            return False
        if _read_file(os.path.join(installed, "version.py")) != packed[pkg]:
            return False
    path[:] = remaining
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in spark_archives):
            del importer_cache[key]
    return True

if __name__ == "__main__":
    select_installed_pyspark(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
