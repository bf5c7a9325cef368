"""Ship the package to executors (``spark-submit --py-files`` analog).

Any plan containing a ``mapInPandas`` stage needs the
``pdftotext_spark`` package importable on every Python worker. Under
``spark-submit --py-files pdftotext_spark.zip`` that's the deploy
mechanism (north_rule); when the engine is imported into someone
else's SparkSession (the driver harness, a notebook), the workers may
share neither cwd nor PYTHONPATH with the driver — so every
UDF-bearing entry point calls :func:`ship_package` first, which zips
the installed package once per session and registers it with
``sc.addPyFile``. Idempotent and a no-op when already shipped.

The same module guards how the shipped archives are *read* on a
worker: see :func:`install_zip_guard`.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # annotation only: importable without pyspark
    from pyspark.sql import SparkSession

_shipped: set[str] = set()


def build_package_zip(dest_dir: str | None = None) -> str:
    """Zip the pdftotext_spark package (source tree) for --py-files."""
    import pdftotext_spark

    pkg_dir = os.path.dirname(os.path.abspath(pdftotext_spark.__file__))
    if dest_dir is None:
        dest_dir = tempfile.mkdtemp(prefix="pdftotext_spark_ship_")
    else:
        os.makedirs(dest_dir, exist_ok=True)
    zip_path = os.path.join(dest_dir, "pdftotext_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(
                    "pdftotext_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Make pdftotext_spark importable on executors (once per app)."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _shipped:
        return
    sc.addPyFile(build_package_zip())
    _shipped.add(app_id)


# archive path -> (st_ino, st_size, st_mtime_ns) when this process last
# re-read its central directory through the guard
_zip_stamps: dict[str, tuple[int, int, int]] = {}


def install_zip_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed on disk. Idempotent; installed once per Python worker
    by ``pdftotext_spark/__init__.py``.

    Before every task PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()``. Up to CPython 3.12 that makes every
    zip importer on ``sys.path_importer_cache`` re-read its archive's
    central directory: a worker holds about 21 of them (``pyspark.zip``
    a dozen times, the Spark jar, py4j, the shipped package), which cost
    about 0.27 s per task with 4 tasks running on a 4-core host, before
    any of our code runs. The guard reuses the directory already in
    ``zipimport._zip_directory_cache`` while the archive's
    ``(st_ino, st_size, st_mtime_ns)`` still matches the stat taken
    before this process last re-read it; otherwise, or when the ``stat``
    fails, it calls the original method. On CPython 3.13, whose method
    only drops the cache entry, the guard keeps an unchanged archive's
    entry instead. Import results are the same on every version.

    Installing also stamps and reads every archive on
    ``sys.path_importer_cache`` once, so the installing task pays that
    one read and the worker's later tasks read nothing. Left to the
    first guarded call, that read would land in each worker's second
    task instead, one job later than the worker's start.
    """
    zi = zipimport.zipimporter
    original = zi.invalidate_caches
    if getattr(original, "_stamp_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _zip_stamps.get(self.archive) == stamp:
            # up to 3.12 each importer also holds its own reference
            if hasattr(self, "_files"):
                self._files = files
            return
        # stamped before the read: a write racing it forces one more read
        _zip_stamps[self.archive] = stamp
        return original(self)

    invalidate_caches._stamp_guarded = True
    zi.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zi):
            invalidate_caches(importer)
