"""The extraction operator's stat-checked zip-import cache reset
(``operators.extraction._skip_unchanged_zip_rereads``), pure Python, no
Spark.  Every test restores the process's ``zipimporter`` through
``monkeypatch``, so the patch does not leak into later tests."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from frogocr_spark.operators.extraction import _skip_unchanged_zip_rereads

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 invalidates zipimport caches lazily")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zinv_a`` on sys.path, the process's
    ``invalidate_caches`` saved for restore, and a counter of directory
    reads of this archive only."""
    path = tmp_path / "mods.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zinv_a.py", "VALUE = 'a'\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == str(path):
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(str(path))
    for name in ("zinv_a", "zinv_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zinv_a").VALUE == "a"
    reads.clear()
    yield path, reads
    for name in ("zinv_a", "zinv_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)


@needs_eager_zip_invalidation
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()        # unpatched: every call re-reads
    importlib.invalidate_caches()
    assert len(reads) == 2
    _skip_unchanged_zip_rereads()
    importlib.invalidate_caches()        # records the stat it read at
    assert len(reads) == 3
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 3


@needs_eager_zip_invalidation
def test_rewritten_archive_is_reread_and_new_member_imports(archive):
    path, reads = archive
    _skip_unchanged_zip_rereads()
    importlib.invalidate_caches()
    n = len(reads)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zinv_a.py", "VALUE = 'a'\n")
        z.writestr("zinv_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("zinv_b").VALUE == "b"
    importlib.invalidate_caches()
    assert len(reads) == n + 1


@needs_eager_zip_invalidation
def test_second_install_does_not_wrap_again(archive):
    path, reads = archive
    _skip_unchanged_zip_rereads()
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.stat_checked
    _skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_noop_on_lazy_invalidating_python(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is before
