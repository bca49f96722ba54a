"""Python workers import pyspark from its installed directory: the path
selection of ``rasteret_spark.worker_daemon`` on fake Spark layouts, the
session wiring, and a real worker's ``sys.path``."""

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from rasteret_spark.session import PYTHONPATH, with_worker_daemon
from rasteret_spark.worker_daemon import select_installed_pyspark

REPO = Path(__file__).resolve().parent.parent
VERSION = b"__version__: str = '9.9.9'\n"


def _zip(path: Path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _package(site: Path, name: str, version: bytes) -> None:
    (site / name).mkdir(parents=True)
    (site / name / "__init__.py").write_bytes(b"")
    (site / name / "version.py").write_bytes(version)


def _layout(tmp: Path, zip_version=VERSION, py4j_installed=True):
    """A worker path as Spark builds it: cwd, pyspark.zip, the py4j zip, the
    spark-core jar, a user zip, then site-packages."""
    site = tmp / "site"
    site.mkdir()
    _package(site, "pyspark", VERSION)
    if py4j_installed:
        _package(site, "py4j", VERSION)
    pyspark_zip = _zip(tmp / "pyspark.zip", {
        "pyspark/__init__.py": b"", "pyspark/version.py": zip_version,
        "pyspark/sql/__init__.py": b"",
    })
    py4j_zip = _zip(tmp / "py4j-src.zip", {
        "py4j/__init__.py": b"", "py4j/version.py": VERSION,
    })
    jar = _zip(tmp / "spark-core.jar", {"org/apache/spark/Foo.class": b"\xca\xfe"})
    user_zip = _zip(tmp / "user.zip", {"userpkg/__init__.py": b""})
    path = [str(tmp), pyspark_zip, py4j_zip, jar, user_zip, str(site)]
    cache = {p: zipimport.zipimporter(p) for p in (pyspark_zip, py4j_zip, jar, user_zip)}
    cache[os.path.join(pyspark_zip, "pyspark")] = zipimport.zipimporter(
        os.path.join(pyspark_zip, "pyspark")
    )
    cache[str(site)] = None
    return path, cache, [pyspark_zip, py4j_zip, jar], user_zip, str(site)


def test_matching_version_drops_spark_archives(tmp_path):
    path, cache, spark_archives, user_zip, site = _layout(tmp_path)
    assert select_installed_pyspark(path, cache)
    assert path == [str(tmp_path), user_zip, site]
    assert not [k for k in cache if any(k.startswith(a) for a in spark_archives)]
    assert user_zip in cache and site in cache


def test_version_mismatch_leaves_path(tmp_path):
    path, cache, *_ = _layout(tmp_path, zip_version=b"__version__: str = '9.9.8'\n")
    before, cache_before = list(path), dict(cache)
    assert not select_installed_pyspark(path, cache)
    assert path == before and cache == cache_before


def test_no_installed_py4j_leaves_path(tmp_path):
    path, cache, *_ = _layout(tmp_path, py4j_installed=False)
    before, cache_before = list(path), dict(cache)
    assert not select_installed_pyspark(path, cache)
    assert path == before and cache == cache_before


def test_selection_does_not_import_pyspark():
    code = (
        "import sys\n"
        "from rasteret_spark.worker_daemon import select_installed_pyspark\n"
        "select_installed_pyspark(list(sys.path), dict(sys.path_importer_cache))\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))\n"
    )
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    r = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=60
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "[]"


def test_session_conf_merges_caller_pythonpath():
    conf = with_worker_daemon({PYTHONPATH: "/srv/user-libs"})
    assert conf["spark.python.daemon.module"] == "rasteret_spark.worker_daemon"
    assert conf[PYTHONPATH] == os.pathsep.join(["/srv/user-libs", str(REPO)])
    assert with_worker_daemon(conf)[PYTHONPATH] == conf[PYTHONPATH]
    own = {"spark.python.daemon.module": "pyspark.daemon"}
    assert with_worker_daemon(own)["spark.python.daemon.module"] == "pyspark.daemon"


def test_worker_imports_installed_pyspark(spark):
    def imports(batches):
        import pandas as pd
        import pyspark

        def under_archive(p):
            return any(os.path.isfile(a) for a in Path(p).parents)

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        spark_zips = [k for k in zips if "pyspark" in k or "py4j" in k or ".jar" in k]
        for _ in batches:
            yield pd.DataFrame({
                "pyspark_in_archive": [under_archive(pyspark.__file__)],
                "spark_zipimporters": [len(spark_zips)],
            })

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(imports, "pyspark_in_archive boolean, spark_zipimporters int")
        .collect()
    )
    assert len(rows) == 4
    assert not any(r.pyspark_in_archive for r in rows)
    assert all(r.spark_zipimporters == 0 for r in rows)


def test_workers_find_package_from_foreign_cwd(tmp_path):
    """A session started outside the checkout, with ``rasteret_spark`` on
    ``sys.path`` only: the daemon module reaches the workers through
    ``spark.executorEnv.PYTHONPATH``."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from rasteret_spark.session import get_spark
        spark = get_spark(master="local[2]", shuffle_partitions=2,
                          extra={{"spark.driver.memory": "1g"}})
        import pandas as pd
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def double(s: pd.Series) -> pd.Series:
            return s * 2

        n = spark.range(0, 8, numPartitions=2).select(double("id").alias("x")) \
            .agg(F.sum("x")).first()[0]
        print("DOUBLED_SUM=%d" % n)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "DOUBLED_SUM=56" in r.stdout, r.stdout[-2000:]

