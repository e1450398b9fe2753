"""The session's static confs and the pydaemon worker daemon's stat-keyed
zipimport invalidation."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from cobradb_spark import pydaemon

PYDAEMON_FILE = os.path.join("cobradb_spark", "pydaemon.py")


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def _count_reads(monkeypatch):
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport re-reads lazily")
def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"_pydaemon_mod_a.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_seen", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("_pydaemon_mod_a").X == 1
        reads = _count_reads(monkeypatch)
        importlib.invalidate_caches()  # first call stamps each archive
        assert archive in reads
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"_pydaemon_mod_a.py": "X = 1\n", "_pydaemon_mod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("_pydaemon_mod_b").Y == 2
    finally:
        for mod in ("_pydaemon_mod_a", "_pydaemon_mod_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)


def test_get_spark_sets_static_confs(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "cobradb_spark.pydaemon"
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # The daemon must import from any driver working directory.
    root = os.path.dirname(os.path.dirname(os.path.abspath(pydaemon.__file__)))
    assert conf.get("spark.executorEnv.PYTHONPATH") == root


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport re-reads lazily")
def test_session_workers_skip_unchanged_archives(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"file": [code.co_filename], "reads": [len(reads)]})

    df = spark.range(4, numPartitions=2).mapInPandas(probe, "file string, reads int")
    for _ in range(2):
        rows = df.collect()
        assert len(rows) == 2
        for r in rows:
            assert r.file.endswith(PYDAEMON_FILE)
            assert r.reads == 0
