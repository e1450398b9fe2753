"""The session's static confs, the pydaemon worker daemon's stat-keyed
zipimport invalidation, and the driver JVM's class-data archive."""

from __future__ import annotations

import glob
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from cobradb_spark import pydaemon, session

PYDAEMON_FILE = os.path.join("cobradb_spark", "pydaemon.py")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# A fresh process: get_spark, then the files of the JVM's mappings that are archives.
ARCHIVE_CHILD = """
import json
from cobradb_spark.session import get_spark
spark = get_spark("test_session")
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:
    mapped = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
print(json.dumps({"count": spark.range(3).count(), "mapped": mapped}))
"""


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


def _archive_session(cache) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "2g", "PYTHONPATH": ROOT}
    env.pop("SPARK_CONF_DIR", None)
    # cwd: a JVM that crashes on a damaged archive leaves its hs_err file there
    out = subprocess.run([sys.executable, "-c", ARCHIVE_CHILD], cwd=cache, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    # the JDK's own base archive maps too
    got["mapped"] = [p for p in got["mapped"] if p.startswith(f"{cache}{os.sep}")]
    return got


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A cache dir in which one session has recorded its archive."""
    cache = tmp_path_factory.mktemp("cache")
    return cache, _archive_session(cache)


def test_first_session_records_and_later_sessions_map(recorded):
    cache, first = recorded
    assert first["count"] == 3
    assert first["mapped"] == []
    archive_dir = cache / "cobradb_spark"
    archives = glob.glob(str(archive_dir / "*.jsa"))
    assert len(archives) == 1
    assert glob.glob(str(archive_dir / "*.tmp")) == []
    assert _archive_session(cache) == {"count": 3, "mapped": archives}


def test_damaged_archive_is_dropped(recorded, tmp_path):
    """A truncated archive crashes the JVM at start: get_spark deletes it
    and starts the JVM once more without it."""
    (archive,) = glob.glob(str(recorded[0] / "cobradb_spark" / "*.jsa"))
    bad = tmp_path / "cobradb_spark" / os.path.basename(archive)
    bad.parent.mkdir()
    with open(archive, "rb") as f:
        bad.write_bytes(f.read(2**20))
    assert _archive_session(tmp_path) == {"count": 3, "mapped": []}
    assert not bad.exists()


def test_class_archive_options(tmp_path, monkeypatch):
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path)}
    env.pop("SPARK_CONF_DIR", None)
    archive = session.class_archive(env, "31g")
    assert archive.record and os.path.dirname(archive.path) == str(tmp_path / "cobradb_spark")
    assert os.listdir(archive.conf_dir) == []
    assert f"-XX:ArchiveClassesAtExit={archive.path}." in archive.java_options()
    with open(archive.path, "w"):
        pass
    assert session.class_archive(env, "4096m").java_options().startswith(
        f"-XX:SharedArchiveFile={archive.path} ")

    # at 32g and up compressed oops are off and an archive would not map
    assert session.class_archive(env, "32g") is None
    assert session.class_archive(env, "48g") is None
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    assert session.class_archive({**env, "SPARK_CONF_DIR": str(conf)}, "2g") is not None
    (conf / "spark-defaults.conf").write_text("spark.driver.cores 1\n")
    assert session.class_archive({**env, "SPARK_CONF_DIR": str(conf)}, "2g") is None
    (tmp_path / "file").write_text("")
    assert session.class_archive({**env, "XDG_CACHE_HOME": str(tmp_path / "file")}, "2g") is None

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert 1024 <= int(session.driver_memory().removesuffix("m")) <= 31 * 1024
