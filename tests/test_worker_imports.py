"""functions.worker.drop_zip_importers: after it, the per-task
``importlib.invalidate_caches()`` of a PySpark worker re-reads no zip
archive, and imports from the archive keep working."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from posextract_spark.functions.worker import drop_zip_importers


@pytest.fixture
def zip_package(tmp_path):
    """A zip holding package ``zpkg_drop`` (modules a and b) on sys.path."""
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg_drop/__init__.py", "")
        zf.writestr("zpkg_drop/a.py", "VALUE = 'a'\n")
        zf.writestr("zpkg_drop/b.py", "VALUE = 'b'\n")
    sys.path.insert(0, str(archive))
    yield str(archive)
    sys.path.remove(str(archive))
    for name in ("zpkg_drop", "zpkg_drop.a", "zpkg_drop.b"):
        sys.modules.pop(name, None)
    for path in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.fixture
def archive_reads(monkeypatch):
    """The archives whose directory zipimport reads from now on."""
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return reads


def _zip_importers():
    return [
        p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)
    ]


def test_no_archive_reread_after_drop(zip_package, archive_reads):
    from zpkg_drop import a

    assert a.VALUE == "a"
    # the archive root and the package directory inside it
    assert any(p.startswith(zip_package) for p in _zip_importers())

    drop_zip_importers()
    assert _zip_importers() == []
    archive_reads.clear()  # the first import reads the archive once
    importlib.invalidate_caches()
    assert archive_reads == []

    # a module not imported yet still loads from the same archive
    from zpkg_drop import b

    assert b.VALUE == "b"
    assert b.__spec__.origin.startswith(zip_package)
    assert archive_reads == []


def test_without_drop_invalidate_rereads(zip_package, archive_reads):
    """The cost the helper removes: each cached zipimporter re-reads its
    archive on invalidate_caches()."""
    if sys.version_info >= (3, 13):
        pytest.skip("zipimporter.invalidate_caches is lazy from CPython 3.13")
    import zpkg_drop.a  # noqa: F401

    archive_reads.clear()  # the first import reads the archive once
    importlib.invalidate_caches()
    assert zip_package in archive_reads
