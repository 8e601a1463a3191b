"""Self-shipping: make the package importable on executors regardless of how
the SparkSession was created.

Pandas-UDF closures reference module-level kernels by name, so executor
Python workers must be able to import ``duckdb_vss_spark``. On a real
cluster this is normally handled by ``--py-files``/pip; ``ensure_shipped``
makes it automatic (and harmless when the package is already importable):
it zips the package once and registers it with ``SparkContext.addPyFile``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

_shipped: set[int] = set()


def package_zip() -> str:
    """The package's ``.py`` files as a zip in a new temp dir, which is
    removed when the interpreter exits: no zip outlives the process that
    wrote it, and no process touches a zip that another one registered
    with ``addPyFile``."""
    pkgdir = os.path.dirname(os.path.abspath(__file__))
    zdir = tempfile.mkdtemp(prefix="duckdb_vss_spark_pkg-")
    atexit.register(shutil.rmtree, zdir, ignore_errors=True)
    zpath = os.path.join(zdir, "duckdb_vss_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, names in os.walk(pkgdir):
            for f in names:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkgdir)))
    return zpath


def ensure_shipped(spark) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped:
        return
    sc.addPyFile(package_zip())
    _shipped.add(key)
