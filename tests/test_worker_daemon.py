"""The worker daemon's zip-directory cache: an unchanged archive is never
re-read by ``importlib.invalidate_caches()``, a changed one always is, and
Spark's Python workers really fork from that daemon."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from web_crawler_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport checks mtime and size itself from 3.13")
def test_daemon_rereads_zip_directory_only_when_archive_changes(tmp_path, monkeypatch):
    zpath = str(tmp_path / "probe.zip")
    files = {"wd_probe_pkg/__init__.py": "", "wd_probe_pkg/sub/__init__.py": "X = 1\n"}
    _write_zip(zpath, files)
    # restored after the test: the patch, the stamps and the import state
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.syspath_prepend(zpath)
    for name in ("wd_probe_pkg", "wd_probe_pkg.sub", "wd_probe_pkg.added"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or real_read(archive))
    try:
        importlib.import_module("wd_probe_pkg.sub")
        # two importers now share this archive: its root and the package dir
        n_importers = sum(
            isinstance(f, zipimport.zipimporter) and f.archive == zpath
            for f in sys.path_importer_cache.values()
        )
        assert n_importers >= 2

        worker_daemon.install()
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(zpath) == 1  # first sight: one read for all importers
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []  # nothing changed, nothing re-read

        # a rewrite that changes the size is re-read once, and its new
        # module is importable
        _write_zip(zpath, {**files, "wd_probe_pkg/added.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [zpath]
        assert importlib.import_module("wd_probe_pkg.added").Y == 2

        # an mtime-only change (same size) is re-read too
        reads.clear()
        st = os.stat(zpath)
        os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert reads == [zpath]
    finally:
        for key in [k for k in sys.path_importer_cache if k.startswith(zpath)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(zpath, None)


def test_spark_workers_fork_from_the_zip_cached_daemon(spark):
    """A dropped ``spark.python.daemon.module`` conf leaves the worker on
    ``pyspark.daemon``: the module is then absent and the method unpatched."""

    def probe(batches):
        import sys as wsys
        import zipimport as wzip

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({
                "method_module": [wzip.zipimporter.invalidate_caches.__module__],
                "daemon_loaded": ["web_crawler_spark.worker_daemon" in wsys.modules],
                "minor": [wsys.version_info[1] if wsys.version_info[0] == 3 else 99],
            })

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "method_module string, daemon_loaded boolean, minor int"
    ).collect()
    assert row["daemon_loaded"]
    if row["minor"] < 13:
        assert row["method_module"] == "web_crawler_spark.worker_daemon"
