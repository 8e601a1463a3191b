"""Self-shipping: make the package importable on executors regardless of how
the SparkSession was created.

Pandas-UDF closures reference module-level kernels by name, so executor
Python workers must be able to import ``duckdb_vss_spark``. On a real
cluster this is normally handled by ``--py-files``/pip; ``ensure_shipped``
makes it automatic (and harmless when the package is already importable):
it zips the package once and registers it with ``SparkContext.addPyFile``.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

_shipped: set[int] = set()


def package_zip() -> str:
    """The package's ``.py`` files as a zip in the temp dir, named by a hash
    of their paths and bytes: two checkouts share a zip exactly when they
    ship the same code, and a zip, once written, never changes (its entries
    carry a fixed timestamp)."""
    pkgdir = os.path.dirname(os.path.abspath(__file__))
    files = {}
    for root, _, names in os.walk(pkgdir):
        for f in names:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    files[os.path.relpath(full, os.path.dirname(pkgdir))] = fh.read()
    digest = hashlib.sha256()
    for rel in sorted(files):
        digest.update(f"{rel}\0{len(files[rel])}\0".encode())
        digest.update(files[rel])
    zpath = os.path.join(tempfile.gettempdir(), f"duckdb_vss_spark_pkg-{digest.hexdigest()[:20]}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel in sorted(files):
                z.writestr(zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0)), files[rel])
        os.replace(tmp, zpath)
    return zpath


def ensure_shipped(spark) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped:
        return
    sc.addPyFile(package_zip())
    _shipped.add(key)
