"""Python-worker daemon of the pipeline's sessions
(``spark.python.daemon.module`` in ``session.DEFAULT_CONFS``).

Spark starts it once per executor as ``python -m`` and forks every Python
worker from it. Before the fork it drops the archives that only slow the
workers down from ``sys.path``, and imports pyspark's worker and the
modules whose UDFs the pipeline ships by reference, so that every worker
starts with them loaded. The module must be importable when the daemon
starts (cwd or ``PYTHONPATH``), which ``--py-files`` is not.
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile

VERSION_PY = "pyspark/version.py"


def _python_free_jar(path: str) -> bool:
    if not path.endswith(".jar"):
        return False
    try:
        with zipfile.ZipFile(path) as z:
            return not any(n.endswith(".py") for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return False


def _same_pyspark(zip_path: str, paths: list[str]) -> bool:
    """Whether ``paths`` hold an installed pyspark whose ``version.py`` is
    byte-identical to the one in ``zip_path``."""
    spec = importlib.machinery.PathFinder.find_spec("pyspark", paths)
    if spec is None or spec.origin is None:
        return False
    try:
        with zipfile.ZipFile(zip_path) as z, open(
                os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return z.read(VERSION_PY) == f.read()
    except (KeyError, OSError, zipfile.BadZipFile):
        return False


def worker_path(paths: list[str]) -> list[str]:
    """``paths`` without the jars that hold no ``.py`` file, and without
    Spark's ``pyspark.zip`` when the rest of the path has an installed
    pyspark of the same version.

    PySpark calls ``importlib.invalidate_caches()`` on every task, which
    re-reads every archive on the path; the zip also holds no bytecode, so
    each daemon compiles pyspark from it again."""
    kept = [p for p in paths if not _python_free_jar(p)]
    for z in [p for p in kept if os.path.basename(p) == "pyspark.zip"]:
        rest = [p for p in kept if p != z]
        if _same_pyspark(z, rest):
            kept = rest
    return kept


if __name__ == "__main__":
    paths = worker_path(sys.path)
    for p in set(sys.path) - set(paths):
        # the interpreter opened these archives at start-up
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = paths

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.daemon
    import pyspark.sql.pandas.serializers  # noqa: F401

    from mongo2neo_spark.operators import extract, link, materialize  # noqa: F401

    pyspark.daemon.manager()
