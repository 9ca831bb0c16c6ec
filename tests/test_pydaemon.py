"""The engine's PySpark worker daemon: workers fork from it, and a zip on
the import path is re-read only when the zip changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from mysql_binlog_spark import _pydaemon


def test_workers_fork_from_the_engine_daemon(spark):
    # defined here so that cloudpickle ships it by value: workers cannot
    # import this test module
    def _daemon_report(batches):
        daemon = sys.modules["__main__"]
        before = getattr(daemon, "rereads", None)
        importlib.invalidate_caches()
        after = getattr(daemon, "rereads", None)
        patched = zipimport.zipimporter.invalidate_caches is getattr(
            daemon, "invalidate_caches", None
        )
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for b in batches:
            yield b.head(1).assign(
                module=daemon.__spec__.name, patched=patched, zips=zips,
                rereads=(after - before) if patched else -1,
            )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(
            _daemon_report,
            "id long, module string, patched boolean, zips long, rereads long",
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r.module == "mysql_binlog_spark._pydaemon"
        if sys.version_info < (3, 13):
            assert r.patched and r.zips > 0
            assert r.rereads == 0  # unchanged archives: nothing re-read


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_changed_zip_is_reread_by_every_importer(tmp_path, monkeypatch):
    """The package's importer and the archive root's importer each hold
    their own directory, so each must see the rewritten zip."""
    archive = str(tmp_path / "zpkg.zip")
    pkg = {"zpkg_t/__init__.py": "", "zpkg_t/a.py": "VALUE = 1\n"}
    _write_zip(archive, pkg)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches
    )
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    try:
        assert importlib.import_module("zpkg_t.a").VALUE == 1
        importlib.invalidate_caches()  # first call stamps both importers
        n = _pydaemon.rereads
        importlib.invalidate_caches()
        assert _pydaemon.rereads == n  # unchanged: nothing re-read

        _write_zip(archive, {**pkg, "zpkg_t/b.py": "VALUE = 2\n", "ztop_t.py": ""})
        importlib.invalidate_caches()
        assert _pydaemon.rereads == n + 2
        assert importlib.import_module("zpkg_t.b").VALUE == 2
        importlib.import_module("ztop_t")
    finally:
        for name in ("zpkg_t", "zpkg_t.a", "zpkg_t.b", "ztop_t"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
