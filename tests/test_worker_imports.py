"""The package's zipimporter shim: PySpark workers call
``importlib.invalidate_caches()`` before every task, and on Python < 3.12
that re-reads every zip archive on ``sys.path`` unless the package keys the
re-read on the archive's stat."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import entity_resolution_spark as ers

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="Python 3.12 re-reads zip directories lazily"
)


def _write_zip(path, members: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "shimmed.zip")
    _write_zip(archive, {"shim_mod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("shim_mod_a", "shim_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        ers._stat_keyed_invalidate(zipimport.zipimporter.invalidate_caches),
    )
    try:
        assert importlib.import_module("shim_mod_a").X == 1

        reads: list[str] = []
        read_directory = zipimport._read_directory

        def spy(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", spy)
        importlib.invalidate_caches()  # first call records the archive's stamp
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"shim_mod_a.py": "X = 1\n", "shim_mod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("shim_mod_b").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
