"""The Python workers' daemon (worker_daemon.py): the path rewrite it makes
before pyspark is imported, and what a worker forked from it has loaded."""

import json
import os
import zipfile
from importlib.machinery import PathFinder

import pytest

from mongo2neo_spark.worker_daemon import VERSION_PY, worker_path

VERSION = b"__version__: str = '4.1.2'\n"


def _archive(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _installed(root, version):
    """A directory holding an installed pyspark of ``version``."""
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_bytes(b"")
    (pkg / "version.py").write_bytes(version)
    return str(root)


def _pyspark_zip(tmp_path, version):
    """Spark's source-only archive of pyspark ``version``."""
    return _archive(tmp_path / "pyspark.zip",
                    {"pyspark/__init__.py": "", VERSION_PY: version})


def test_jar_without_python_is_dropped(tmp_path):
    jar = _archive(tmp_path / "core.jar", {"org/apache/A.class": b"\xca\xfe"})
    assert worker_path([str(tmp_path), jar]) == [str(tmp_path)]


def test_jar_with_python_is_kept(tmp_path):
    jar = _archive(tmp_path / "py.jar", {"org/A.class": b"", "pkg/mod.py": ""})
    assert worker_path([jar, str(tmp_path)]) == [jar, str(tmp_path)]


def test_zip_of_the_installed_version_is_dropped(tmp_path):
    z = _pyspark_zip(tmp_path, VERSION)
    site = _installed(tmp_path / "site", VERSION)
    path = worker_path([z, site])
    assert path == [site]
    assert PathFinder.find_spec("pyspark", path).origin.startswith(site)


def test_zip_of_another_version_is_kept(tmp_path):
    z = _pyspark_zip(tmp_path, VERSION)
    site = _installed(tmp_path / "site", b"__version__: str = '4.1.1'\n")
    path = worker_path([z, site])
    assert path == [z, site]
    # the workers import pyspark from Spark's zip, not the installed one
    assert PathFinder.find_spec("pyspark", path).origin.startswith(z)


def test_zip_is_kept_without_an_installed_pyspark(tmp_path):
    z = _pyspark_zip(tmp_path, VERSION)
    (tmp_path / "site").mkdir()
    assert worker_path([z, str(tmp_path / "site")]) == [z, str(tmp_path / "site")]


def test_workers_fork_from_the_package_daemon(spark):
    import pandas as pd
    import pyspark
    from pyspark.find_spark_home import _find_spark_home
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def worker_state(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        state = json.dumps({
            "main": sys.modules["__main__"].__spec__.name,
            "pyspark": pyspark.__file__,
            "zips": [k for k, v in sys.path_importer_cache.items()
                     if isinstance(v, zipimport.zipimporter)],
        })
        return pd.Series([state] * len(s))

    got = json.loads(spark.range(1).select(worker_state("id")).first()[0])
    assert got["main"] == "mongo2neo_spark.worker_daemon"
    # invalidate_caches() re-reads every archive cached here, on every task
    assert not [z for z in got["zips"] if ".jar" in z]

    spark_zip = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    if not os.path.isfile(spark_zip):
        pytest.skip("no pyspark.zip under SPARK_HOME")
    with zipfile.ZipFile(spark_zip) as z, open(
            os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        same = z.read(VERSION_PY) == f.read()
    if same:
        assert got["pyspark"] == pyspark.__file__
        assert not [z for z in got["zips"] if "pyspark.zip" in z]
    else:
        assert got["pyspark"].startswith(spark_zip)
