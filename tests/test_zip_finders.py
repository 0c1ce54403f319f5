"""``session.drop_zip_finders``: in-process, no Spark.

PySpark workers call ``importlib.invalidate_caches()`` per task; on CPython
3.11 each cached ``zipimporter`` then re-reads its archive's directory.
After the helper none is cached, so nothing is re-read, path finders of
plain directories are untouched, and the archive still imports.
"""

import importlib
import sys
import zipfile
import zipimport
from importlib.machinery import FileFinder

import pytest

from osm2lanes_spark.session import drop_zip_finders

pytestmark = pytest.mark.lane_engine

_MODULES = ("zip_finders_probe_a", "zip_finders_probe_b")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = tmp_path / "probe.zip"
    with zipfile.ZipFile(path, "w") as z:
        for i, name in enumerate(_MODULES):
            z.writestr(f"{name}.py", f"VALUE = {i}\n")
    monkeypatch.syspath_prepend(str(path))
    yield str(path)
    for name in _MODULES:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


def _directory_reads(monkeypatch) -> list:
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_drop_zip_finders(archive, monkeypatch):
    assert importlib.import_module(_MODULES[0]).VALUE == 0
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    reads = _directory_reads(monkeypatch)
    importlib.invalidate_caches()
    if sys.version_info < (3, 12):  # 3.12+ invalidates lazily
        assert archive in reads

    file_finders = {p: f for p, f in sys.path_importer_cache.items()
                    if isinstance(f, FileFinder)}
    drop_zip_finders()
    assert not [p for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)]
    assert {p: f for p, f in sys.path_importer_cache.items()
            if isinstance(f, FileFinder)} == file_finders

    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module(_MODULES[1]).VALUE == 1
    assert reads == []  # the new finder reuses the cached directory
