"""The extraction operator's one-time Python worker installs, pure
Python, no Spark: the stat-checked zip-import cache reset
(``operators.extraction._skip_unchanged_zip_rereads``) and the import
heap freeze (``_freeze_import_heap``).  Every zip test restores the
process's ``zipimporter`` through ``monkeypatch``, so the patch does not
leak into later tests; the freeze runs in a subprocess, so this
process's garbage collector is left alone."""

import importlib
import json
import os
import subprocess
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


# argv[1] names the freeze under test: the operator's helper, or
# gc.freeze itself, which freezes again at every call
_FREEZE_RUN = """
import gc, json, sys
import pandas, pyarrow, pyarrow.compute, pyarrow.parquet
from frogocr_spark.operators import extraction
freeze = {"helper": extraction._freeze_import_heap,
          "every_call": gc.freeze}[sys.argv[1]]
tracked = len(gc.get_objects())
freeze()
first = gc.get_freeze_count()
young = [[i] for i in range(1000)]
freeze()
print(json.dumps({"tracked": tracked, "first": first,
                  "second": gc.get_freeze_count()}))
"""


def _freeze_counts(freeze: str) -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run([sys.executable, "-c", _FREEZE_RUN, freeze],
                          cwd=root, capture_output=True, text=True,
                          timeout=300, env={**os.environ, "PYTHONPATH": root})
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def _frozen_once(c: dict) -> bool:
    """The first call froze every object the imports had tracked; the
    second, made after new objects exist, froze nothing more."""
    return c["first"] >= c["tracked"] and c["second"] == c["first"]


def test_import_heap_is_frozen_once_per_process():
    assert _frozen_once(_freeze_counts("helper"))
    assert not _frozen_once(_freeze_counts("every_call"))
