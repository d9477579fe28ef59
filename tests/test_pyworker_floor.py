"""The per-process zip-directory hook (``plans/zipcache.py``).

``importlib.invalidate_caches()`` must not re-read an unchanged zip
archive, must still pick up a rewritten one, and the hook must be live
in Python workers (PySpark calls ``invalidate_caches()`` at the start
of every task), not only on the driver.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import covertree_spark  # noqa: F401  (installs the hook)

_HOOKED = (3, 10) <= sys.version_info < (3, 12)


def _installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "_reuses_directory", False)


def _write_zip_atomically(path, modules: dict) -> None:
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_archive_not_reread_rewritten_one_picked_up(tmp_path):
    if not _HOOKED:
        assert not _installed()
        return
    assert _installed()
    archive = str(tmp_path / "mods.zip")
    _write_zip_atomically(archive, {"mod_a": "A = 1\n"})
    saved_path = list(sys.path)
    inner = zipimport._read_directory
    reads = []

    def counting(path):
        reads.append(path)
        return inner(path)

    try:
        sys.path.insert(0, archive)
        import mod_a

        assert mod_a.A == 1
        zipimport._read_directory = counting
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        size = os.path.getsize(archive)
        _write_zip_atomically(archive, {"mod_a": "A = 1\n", "mod_b": "B = 2\n"})
        assert os.path.getsize(archive) != size
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import mod_b

        assert mod_b.B == 2

        # a missing archive falls through to the stock method, which
        # drops its directory
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        zipimport._read_directory = inner
        sys.path[:] = saved_path
        for name in ("mod_a", "mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_hook_live_in_python_workers(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import covertree_spark  # noqa: F401

        # archives read before this process installed the hook are
        # re-read once; from then on an unchanged archive never is
        importlib.invalidate_caches()
        inner = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return inner(path)

        zipimport._read_directory = counting
        try:
            for _ in range(3):
                importlib.invalidate_caches()
        finally:
            zipimport._read_directory = inner
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zipimporters": [zips]})

    (row,) = (spark.range(1, numPartitions=1)
              .mapInPandas(probe, "reads long, zipimporters long")
              .collect())
    assert row.zipimporters >= 1
    if _HOOKED:
        assert row.reads == 0
