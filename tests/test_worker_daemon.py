"""The engine's Python worker daemon (``jsonld_js_spark.daemon``):
session workers run it, and it re-reads a zip archive's directory only
when the archive changed. Nothing here is timing-based; the cost it
removes is measured by scripts/probe_python_task_cost.py."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from jsonld_js_spark import daemon

needs_eager_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily; install() is a no-op")


def test_session_workers_run_the_engine_daemon(spark):
    def patched_by(batches):
        import zipimport

        for pdf in batches:
            yield pdf.assign(
                module=zipimport.zipimporter.invalidate_caches.__module__)

    got = {r.module for r in spark.range(2, numPartitions=2).mapInPandas(
        patched_by, "id long, module string").collect()}
    want = ("jsonld_js_spark.daemon" if sys.version_info < (3, 12)
            else "zipimport")
    assert got == {want}


@needs_eager_zip_reread
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "wd_mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_first.py", "X = 1\n")
    # restored at teardown: install() patches the class for the process
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    daemon.install()
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        import wd_first

        assert wd_first.X == 1
        importlib.invalidate_caches()  # first call reads, records the key
        n = reads.count(archive)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == n

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("wd_second.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
        import wd_second

        assert wd_second.Y == 2
    finally:
        for name in ("wd_first", "wd_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
