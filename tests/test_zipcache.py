"""The zip import cache rule: ``importlib.invalidate_caches()`` re-reads an
archive's directory only when the archive file changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from rove_spark import zipcache


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


def _counting_read_directory(monkeypatch) -> list:
    calls = []
    real = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    # the rule is process-wide: restore the class attribute after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(zipcache, "_stamps", {})
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcache_probe.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipcache_probe", raising=False)
    try:
        assert importlib.import_module("zipcache_probe").VALUE == 1
        assert zipcache.install() == (sys.version_info < (3, 13))

        calls = _counting_read_directory(monkeypatch)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert calls == []

        _write_zip(archive, {"zipcache_probe.py": "VALUE = 22\n", "pad.txt": "x" * 100})
        del sys.modules["zipcache_probe"]
        importlib.invalidate_caches()
        assert importlib.import_module("zipcache_probe").VALUE == 22
        assert archive in calls
    finally:
        sys.modules.pop("zipcache_probe", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_worker_does_not_reread_unchanged_archives(spark):
    if sys.version_info >= (3, 13):
        pytest.skip("invalidate_caches is lazy on this interpreter")

    # defined here so that it is pickled by value: workers cannot import
    # the test module
    def rereads_in_worker(pdfs):
        """Runs in a Python worker: ``_read_directory`` calls made by two
        ``importlib.invalidate_caches()`` calls after importing the package."""
        import importlib
        import os
        import zipimport

        import pandas as pd

        import rove_spark  # noqa: F401

        for _ in pdfs:
            pass
        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda archive: calls.append(archive) or real(archive)
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"pid": [os.getpid()], "rereads": [len(calls)]})

    df = spark.range(1, numPartitions=1)
    seen: dict[int, list[int]] = {}
    for _ in range(8):
        (row,) = df.mapInPandas(rereads_in_worker, "pid long, rereads long").collect()
        seen.setdefault(row.pid, []).append(row.rereads)
        if len(seen[row.pid]) >= 2:
            break
    again = [counts for counts in seen.values() if len(counts) >= 2]
    assert again, f"no worker ran two tasks: {seen}"
    assert again[0][1] == 0, seen
