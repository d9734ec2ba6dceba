"""prepare_python_worker: the zipimporter directory cache survives
``importlib.invalidate_caches()`` while its archive is unchanged, and is
re-read once the archive changes.

Runs in-process on a temporary zip; ``monkeypatch`` restores the original
``zipimporter.invalidate_caches`` after each test.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from readability_spark.spark.session import prepare_python_worker

eager_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter re-reads lazily on 3.13+"
)


@pytest.fixture
def original_invalidate(monkeypatch):
    """The unwrapped method, installed for the test and restored after it."""
    current = zipimport.zipimporter.invalidate_caches
    original = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    return original


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zic_a``, on sys.path and already imported from."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zic_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zic_a", "zic_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zic_a")
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    yield archive
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to zipimport._read_directory, in call order."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@eager_zip_reread
def test_unchanged_archive_is_not_reread(original_invalidate, zip_on_path, reads):
    importlib.invalidate_caches()
    assert str(zip_on_path) in reads  # the original re-parses every archive
    reads.clear()
    prepare_python_worker()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


@eager_zip_reread
def test_changed_archive_is_reread(original_invalidate, zip_on_path, reads):
    prepare_python_worker()
    size = zip_on_path.stat().st_size
    with zipfile.ZipFile(zip_on_path, "a") as zf:
        zf.writestr("zic_b.py", "VALUE = 'b'\n")
    assert zip_on_path.stat().st_size != size
    importlib.invalidate_caches()
    assert reads == [str(zip_on_path)]
    assert importlib.import_module("zic_b").VALUE == "b"


@eager_zip_reread
def test_idempotent(original_invalidate):
    prepare_python_worker()
    wrapped = zipimport.zipimporter.invalidate_caches
    prepare_python_worker()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.__wrapped__ is original_invalidate


def test_noop_from_python_3_13(original_invalidate, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    prepare_python_worker()
    assert zipimport.zipimporter.invalidate_caches is original_invalidate
