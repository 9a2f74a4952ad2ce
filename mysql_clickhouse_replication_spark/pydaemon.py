"""Python UDF daemon that imports the interpreter's own pyspark.

Spark starts every Python worker with the archives of ``SPARK_HOME``
(``pyspark.zip``, ``py4j-*-src.zip``, the spark-core jar) first on
``sys.path``.  Each task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 every
``zipimporter`` re-reads its whole archive directory on that call: a
reused worker holds 16 of them, about 0.13 CPU-s per task before the
UDF runs.  When the interpreter can import pyspark without those
archives, this launcher drops them and runs the unchanged
``pyspark.daemon``, so workers import the compiled site-packages
pyspark, as the Spark driver process does.  ``session.get_spark``
points ``spark.python.daemon.module`` here.

Neither this module nor the package ``__init__`` may import pyspark:
the filter has to run before any archive is read.
"""

from __future__ import annotations

import importlib.machinery
import os
import runpy
import sys


def spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """Entries of ``path`` that are archive files under ``spark_home``
    (compared by realpath), or ``[]`` if pyspark cannot be found on
    ``path`` without them."""
    if not spark_home:
        return []
    root = os.path.join(os.path.realpath(spark_home), "")
    drop = [
        p for p in path if os.path.isfile(p) and os.path.realpath(p).startswith(root)
    ]
    rest = [p for p in path if p not in drop]
    if drop and importlib.machinery.PathFinder.find_spec("pyspark", rest) is None:
        return []
    return drop


if __name__ == "__main__":
    for p in spark_archives(sys.path, os.environ.get("SPARK_HOME")):
        sys.path.remove(p)
        sys.path_importer_cache.pop(p, None)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
