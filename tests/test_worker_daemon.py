"""The worker daemon's stamp check on ``zipimporter.invalidate_caches``,
in-process and without a Spark session: an unchanged archive is not
re-read, a rewritten one is, and a deleted one takes the stdlib path."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from mit6_5840_6_824_lab1_mapreduce_spark import worker_daemon


@pytest.fixture
def patched(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches_if_changed
    )


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(patched, monkeypatch, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wd_unchanged_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads = _count_reads(monkeypatch)
    importer.invalidate_caches()  # first call: no stamp yet, reads once
    assert reads == [str(archive)]
    for _ in range(5):
        importer.invalidate_caches()
    assert reads == [str(archive)]
    assert importer.find_spec("wd_unchanged_a") is not None


def test_rewritten_archive_is_reread(patched, monkeypatch, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wd_rewrite_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wd_rewrite_a", "wd_rewrite_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_rewrite_a").X == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("wd_rewrite_b")

    _write_zip(archive, {"wd_rewrite_a": "X = 1\n", "wd_rewrite_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("wd_rewrite_b").Y == 2


def test_deleted_archive_takes_the_stdlib_path(patched, monkeypatch, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wd_deleted_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()

    calls = []
    stdlib = worker_daemon._stdlib_invalidate_caches

    def counting(self):
        calls.append(self)
        return stdlib(self)

    monkeypatch.setattr(worker_daemon, "_stdlib_invalidate_caches", counting)
    archive.unlink()
    importer.invalidate_caches()
    assert calls == [importer]
    assert importer.find_spec("wd_deleted_a") is None
