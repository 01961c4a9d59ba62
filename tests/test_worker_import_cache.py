"""The stat-checked ``zipimporter.invalidate_caches`` hook: an unchanged
archive is not re-read, a changed one is, a deleted one behaves as the
interpreter's own method does, and a reused Spark Python worker keeps the
hook from one task to the next."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import ferret_spark  # noqa: F401  (installs the hook)
import ferret_spark.session as S
from tests.conftest import spark  # noqa: F401

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimport invalidates lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture()
def probe_zip(tmp_path, monkeypatch):
    """A zip holding module ``zipcache_probe_a``, on sys.path and imported;
    yields (path, reads) where reads counts directory reads of this zip."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, ["zipcache_probe_a"])
    monkeypatch.syspath_prepend(path)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    import zipcache_probe_a  # noqa: F401

    yield path, reads
    for name in ("zipcache_probe_a", "zipcache_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_import_installs_hook_once():
    assert zipimport.zipimporter.invalidate_caches is S._stat_checked_invalidate
    S.install_zip_cache_hook()
    S.install_zip_cache_hook()
    assert zipimport.zipimporter.invalidate_caches is S._stat_checked_invalidate
    assert S._ZIP_INVALIDATE.__qualname__ == "zipimporter.invalidate_caches"
    assert S._ZIP_INVALIDATE is not S._stat_checked_invalidate


def test_unchanged_archive_is_not_reread(probe_zip):
    path, reads = probe_zip
    importlib.invalidate_caches()  # first call after the import stamps it
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    importer = sys.path_importer_cache[path]
    assert importer._files is zipimport._zip_directory_cache[path]


def test_changed_archive_is_reread(probe_zip):
    path, reads = probe_zip
    importlib.invalidate_caches()
    _write_zip(path, ["zipcache_probe_a", "zipcache_probe_b"])
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path]
    import zipcache_probe_b

    assert zipcache_probe_b.NAME == "zipcache_probe_b"


def test_deleted_archive_behaves_as_before(probe_zip):
    path, _reads = probe_zip
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[path]
    os.remove(path)
    importlib.invalidate_caches()
    # zipimporter.invalidate_caches's own outcome for an unreadable archive
    assert path not in zipimport._zip_directory_cache
    assert importer._files == {}
    sys.modules.pop("zipcache_probe_a")
    with pytest.raises(ImportError):
        import zipcache_probe_a  # noqa: F401


def test_reused_worker_keeps_hook(spark):  # noqa: F811
    """Back-to-back 1-partition tasks until one lands on a worker that ran
    an earlier one: that task must find the hook already installed, i.e.
    Spark's per-task invalidate_caches already ran through it."""
    import pyarrow as pa

    def probe(batches):
        import os
        import sys
        import zipimport

        mod = sys.modules.get("ferret_spark.session")
        hooked = mod is not None and (
            zipimport.zipimporter.invalidate_caches is mod._stat_checked_invalidate
        )
        import ferret_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "hooked": [hooked]})

    df = spark.range(1, numPartitions=1)
    seen = set()
    for _ in range(12):
        row = df.mapInArrow(probe, "pid long, hooked boolean").collect()[0]
        if row.pid in seen:
            assert row.hooked
            return
        seen.add(row.pid)
    pytest.fail(f"no worker was reused across 12 tasks: pids {sorted(seen)}")
