"""The extraction worker's zipimport guard: ``importlib.invalidate_caches()``
re-reads a zip archive on ``sys.path`` only when the archive changed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from occular_ocr_spark.job import _guard_zipimport_rereads

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the guard is a no-op on Python >= 3.12"
)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``m1`` on ``sys.path``, imported; the original
    ``zipimporter.invalidate_caches`` is restored afterwards."""
    original = zipimport.zipimporter.invalidate_caches
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m1.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import m1  # noqa: F401

    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    yield archive
    zipimport.zipimporter.invalidate_caches = original
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen = []
    real = zipimport._read_directory

    def counted(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return seen


def test_unchanged_archives_are_not_reread(zip_on_path, reads):
    _guard_zipimport_rereads()
    importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread_once(zip_on_path, reads):
    _guard_zipimport_rereads()
    with zipfile.ZipFile(zip_on_path, "w") as z:
        z.writestr("m1.py", "X = 1\n")
        z.writestr("m2.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    import m2

    assert m2.Y == 2
    importlib.invalidate_caches()
    assert reads == [zip_on_path]


def test_second_install_does_not_wrap_twice(zip_on_path):
    _guard_zipimport_rereads()
    guarded = zipimport.zipimporter.invalidate_caches
    _guard_zipimport_rereads()
    assert zipimport.zipimporter.invalidate_caches is guarded
