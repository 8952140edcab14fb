"""The Python-worker zip re-read fix (``scraping_jobsdb_spark.pyworker``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from scraping_jobsdb_spark import pyworker

eager_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 re-reads zip archives lazily; the wrapper is not installed",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@eager_zip_reread
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "pw_unchanged.zip"
    _write_zip(archive, {"pw_unchanged_mod.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "pw_unchanged_mod", raising=False)
    assert importlib.import_module("pw_unchanged_mod").X == 1
    importlib.invalidate_caches()  # the first wrapped call stamps the archive

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads


@eager_zip_reread
def test_archive_replaced_via_os_replace_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "pw_swapped.zip"
    _write_zip(archive, {"pw_swapped_old.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pw_swapped_old", "pw_swapped_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pw_swapped_old").X == 1
    importlib.invalidate_caches()

    staged = tmp_path / "pw_swapped.zip.tmp"
    _write_zip(staged, {"pw_swapped_old.py": "X = 1\n", "pw_swapped_new.py": "Y = 2\n"})
    os.replace(staged, archive)
    importlib.invalidate_caches()
    assert importlib.import_module("pw_swapped_new").Y == 2


def test_wrapper_is_active_inside_spark_worker(spark):
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)

    def probe(batches):
        for _ in batches:
            yield pd.DataFrame({"active": [pyworker.installed()]})

    rows = spark.range(4).mapInPandas(probe, "active boolean").collect()
    assert rows
    assert {r.active for r in rows} == {sys.version_info < (3, 12)}


def test_installer_changes_nothing_on_312(monkeypatch):
    stdlib = pyworker._stdlib_invalidate
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert not pyworker.installed()
