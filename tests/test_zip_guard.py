"""The worker zip guard (``shipping.install_zip_guard``) on constructed
archives: an unchanged archive is not re-read by
``importlib.invalidate_caches()``, a rewritten one is, and a deleted
one behaves as under the original method.

Pure Python, no SparkSession. zipimport differs across CPython versions
(3.13 drops the directory cache instead of re-reading it), so the body
also runs without pytest:

    python tests/test_zip_guard.py
"""

from __future__ import annotations

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

_MODS = ("zg_a", "zg_b", "zg_pkg", "zg_pkg.c")


def _write_zip(path: str, names: list[str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in names:
            zf.writestr(name, "X = 1\n")
    os.replace(tmp, path)


def check_guard(tmp_dir: str) -> None:
    from pdftotext_spark.sources import shipping

    archive = os.path.join(tmp_dir, "mods.zip")
    _write_zip(archive, ["zg_a.py", "zg_pkg/__init__.py", "zg_pkg/c.py"])
    zi = zipimport.zipimporter
    saved = (zi.invalidate_caches, zipimport._read_directory, shipping._zip_stamps)
    reads: list[str] = []

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return saved[1](path)

    sys.path.insert(0, archive)
    try:
        # outside a Spark task importing the package installs nothing
        assert not hasattr(saved[0], "_stamp_guarded")
        shipping._zip_stamps = {}
        importlib.import_module("zg_a")
        importlib.import_module("zg_pkg.c")
        # two importers share the archive: its root and zg_pkg/
        top = sys.path_importer_cache[archive]
        assert isinstance(top, zi)
        assert isinstance(sys.path_importer_cache[os.path.join(archive, "zg_pkg")], zi)

        zipimport._read_directory = counting_read
        # installing stamps the archive and reads it once for both
        # importers (3.13 drops it and reads lazily, at the lookup)
        shipping.install_zip_guard()
        guard = zi.invalidate_caches
        shipping.install_zip_guard()  # idempotent: one wrapper, not two
        assert zi.invalidate_caches is guard
        assert top.find_spec("zg_a") is not None
        assert reads == [archive]

        reads.clear()
        importlib.invalidate_caches()
        assert top.find_spec("zg_a") is not None
        assert reads == [], "unchanged archive re-read"

        _write_zip(archive, ["zg_a.py", "zg_b.py", "zg_pkg/__init__.py", "zg_pkg/c.py"])
        reads.clear()
        importlib.invalidate_caches()
        assert importlib.import_module("zg_b").X == 1
        # read once for both importers of the rewritten archive
        assert reads == [archive]

        os.remove(archive)
        importlib.invalidate_caches()  # the stat fails: original method
        assert archive not in zipimport._zip_directory_cache
        assert top.find_spec("zg_a") is None
    finally:
        zi.invalidate_caches, zipimport._read_directory, shipping._zip_stamps = saved
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        for name in _MODS:
            sys.modules.pop(name, None)


def test_zip_guard_rereads_only_changed_archives(tmp_path):
    check_guard(str(tmp_path))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with tempfile.TemporaryDirectory() as d:
        check_guard(d)
    print(f"zip guard ok on Python {sys.version.split()[0]}")
