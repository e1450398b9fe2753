"""SparkSession factory with the engine's canonical configuration.

Design notes (SURVEY.md §4.3.6): UTC session timezone and AQE are pinned
here because timestamp normalization is the likeliest source of
hash-mismatch against the DuckDB oracle, and AQE (coalesce + skew-join)
is the runtime re-planner we rely on at scale instead of hand-tuned
partition counts.

Two static confs and one JVM option cut fixed per-task, per-call and
per-process cost.  Being static, they apply only to sessions built here; a
foreign session (the verify driver's, which __spark_entry__ receives) keeps
the stock daemon, call-site capture and class loading.

- ``spark.python.daemon.module=cobradb_spark.pydaemon``.  Every Python task
  (pandas UDFs, mapInPandas, applyInPandas, UDTFs, Python data sources)
  starts with ``importlib.invalidate_caches()``, and on Python 3.11 each
  zipimporter then re-reads its archive's whole central directory.  Spark's
  worker path holds three archives (pyspark.zip, the py4j zip and the
  spark-core jar, which has no .py files); pyspark imports from the zip, so
  its subpackages add importers: 16 importers and 26,672 entries re-read per
  task, 0.17 s on an idle core and 0.23-0.37 s under 4-way load, against a
  UDF body of about 1 ms.  The daemon re-reads an archive only when its
  (mtime, size) changed; Python 3.13 made the re-read lazy and runs the
  stock code.  Traced ``python.exec_s`` on perfbench ``mixed`` (4 cores, one
  pair of runs): 0.79 s before, 0.34 s after.
  The workers must import ``cobradb_spark`` to start the daemon, whatever
  the driver's working directory, so ``spark.executorEnv.PYTHONPATH`` puts
  the package's directory on their path (Spark appends the inherited
  PYTHONPATH to it).
- ``spark.python.sql.dataFrameDebugging.enabled=false``.  Otherwise every
  ``functions.*`` call and Column operator records its Python call site,
  about 5 py4j round trips per call (986 calls build ``mlprep_roc_auc``).
  PySpark reads the flag once per driver process, from the session active
  at the first such call.  The cost: analysis errors no longer name the
  PySpark line that built the failing expression.  They still raise, with
  the same error class and message.
- A class-data archive for the driver JVM.  Most of a fresh session's start
  is the JVM loading Spark's classes (JVM launch, SparkContext init and
  SparkSession init: about 2 s each on 4 cores).  The first session of a
  JDK + Spark install launches with ``-XX:ArchiveClassesAtExit``: the JVM
  writes the classes it loaded into a JDK 17 dynamic AppCDS archive as it
  exits, and every later session maps that archive with
  ``-XX:SharedArchiveFile`` (under the default ``-Xshare:auto``, so an
  archive that fails validation is ignored).  Both go in through
  ``spark.driver.extraJavaOptions``.  The archive lives in
  ``${XDG_CACHE_HOME:-~/.cache}/cobradb_spark/``, shared by every checkout
  and named by a hash of what the JVM validates (``class_archive``); delete
  the directory to drop it.  No archive is used when the cache dir cannot
  be written, the heap is 32g or more, or Spark's conf dir holds a file
  Spark reads; such a session starts as it would without any of this.
  Four traps:

  1. CDS refuses a non-empty directory on the classpath, and Spark puts its
     conf dir first (``$SPARK_HOME/conf``, which may hold only
     ``*.template`` files).  The launch runs with ``SPARK_CONF_DIR``
     pointed at an empty directory in the cache dir; Spark reads only exact
     file names, never templates, so the configuration is the same.
  2. A truncated archive crashes the JVM at start (SIGBUS, and pyspark's
     ``JAVA_GATEWAY_EXITED``).  An archive is published by one atomic
     rename of a complete file, and if a launch with one fails, the archive
     is deleted and the JVM launched once more without it.
  3. The dump runs in the JVM's exit path, 9-15 s, and on Linux the JVM
     exits only when Python closes its stdin.  The recording process waits
     for its JVM at exit (``_publish``), so it ends that much later, once
     per install.
  4. At a heap of 32g or more the JVM turns compressed oops off and an
     archive recorded with them on silently does not map; the default heap
     (``driver_memory``) stays at 31g or less.

  Measured on 4 cores: ``get_spark`` 6.1-6.9 s without the archive, 2.5-3.6
  s with it; the recording session starts about 3 s slower.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
from collections.abc import Mapping
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# The directory holding the cobradb_spark package, for the Python workers.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime confs every query assumes; also applied defensively to
# externally-provided sessions (the verify driver builds its own).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # Size shuffle/state partitions to the session's core count, not the
    # 200 default: AQE re-coalesces batch shuffles anyway; streaming
    # state stores do NOT (one store per partition), so this is the
    # streaming-state knob.  SPARK_GRAFT_CPUS (the driver contract's
    # core-count env) takes precedence over the machine's physical count
    # — otherwise a local[8] scaling run would still spin 32 state
    # stores per micro-batch (r14).
    "spark.sql.shuffle.partitions": str(
        int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 8
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold (one side's per-partition share provably fits a
    # local hash map): SHJ skips both sort passes.  Guide §3.1/§9; the
    # planner still chooses SMJ for big-big joins, so this is not a
    # local-only tuning — at 100 TB the size conditions simply stop
    # holding and plans degrade gracefully to SMJ.  AQE skew-split
    # applies to SHJ as it does to SMJ.  Measured at sf0.1: -18% over
    # an 8-query join-heavy subset (q2 0.96->0.60, q8 0.75->0.54,
    # q9 0.79->0.53); keys that deliberately demonstrate sort-merge
    # pin it with an explicit MERGE hint instead.
    "spark.sql.join.preferSortMergeJoin": "false",
    # NOTE: spark.sql.streaming.checkpoint.fileChecksum.enabled=false is
    # deliberately NOT here (r14 verdict item 5): it is scoped to the
    # ephemeral replay checkpoints via
    # operators/streams.ephemeral_replay_confs (set/restore around each
    # replay query), so a foreign session pointing a streaming query at
    # a DURABLE checkpoint store keeps its integrity checksums.
    # Default-true, pinned because correctness of the watermark-flush
    # replays (stream_stream_outer_join's single sentinel round) relies
    # on it: after a batch advances the watermark, the engine runs one
    # no-data micro-batch so state evicts/emits under the NEW watermark.
    "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Allow custom Python DataSources (sources/pydocs.py) to absorb
    # pushed filters; off by default in Spark 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
    # The driver-generated events.parquet stores timestamp[ns]; Spark
    # rejects INT64 TIMESTAMP(NANOS) unless told to surface it as long.
    # io.load_events() then converts ns -> microsecond timestamp.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Sessions already initialized by apply_runtime_confs.  Weak keys: a
# stopped session's wrapper drops out and a fresh session re-applies.
# Memoized because the call sits on every load_table (hot: every bench
# run re-builds its DataFrames) and 12 py4j conf.set round trips cost
# ~2.5 ms per call; applying once per session is also less surprising —
# a caller that deliberately overrides a conf mid-session no longer has
# it silently stomped back by the next table load.
_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = None  # type: ignore[assignment]


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set the engine's runtime confs on an existing session (once per
    session object).

    All keys in RUNTIME_CONFS are runtime-settable, so this is safe on a
    session we did not build (e.g. the correctness driver's).
    """
    global _CONFS_APPLIED
    if _CONFS_APPLIED is None:
        import weakref

        _CONFS_APPLIED = weakref.WeakSet()
    if spark in _CONFS_APPLIED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment; defaults must do
    _CONFS_APPLIED.add(spark)
    return spark


# A heap of 32g or more turns compressed oops off, and an archive recorded
# with them on does not map.
_OOPS_LIMIT = 32 * 2**30
_MEM = re.compile(r"(\d+)([kmgt]?)b?")  # a -Xmx size: spark.driver.memory
_UNIT = {"": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
# The first 4 bytes of a JDK 17 dynamic class-data archive.
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")


def driver_memory() -> str:
    """The driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else a quarter of
    physical RAM between 1g and 31g (below the compressed-oops limit)."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(31 * 1024, total_mb // 4))}m"


def archive_dir(env: Mapping[str, str] = os.environ) -> str:
    """Where class-data archives live: one directory per user, shared by
    every checkout."""
    return os.path.join(env.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "cobradb_spark")


@dataclass(frozen=True)
class ClassArchive:
    """The class-data archive one driver JVM launch maps or records."""

    path: str  # the published archive
    conf_dir: str  # the empty SPARK_CONF_DIR the launch runs with
    record: bool  # no archive yet: the JVM records one at exit

    @property
    def tmp(self) -> str:
        return f"{self.path}.{os.getpid()}.tmp"

    def java_options(self) -> str:
        flag = (f"-XX:ArchiveClassesAtExit={self.tmp}" if self.record
                else f"-XX:SharedArchiveFile={self.path}")
        # a recording prints a warning on stdout for each of the thousands
        # of classes it skips (signed jars, pre-JDK 6 class files)
        return f"{flag} -Xlog:cds*=off"


def class_archive(env: Mapping[str, str], heap: str) -> ClassArchive | None:
    """The archive for a driver JVM launched under ``env`` with heap
    ``heap``, or None for a plain launch.

    None when the heap is unparsed or 32g or more, when the environment
    adds to the driver's classpath, when the conf dir holds any file but a
    ``*.template``, when java or Spark's jars are not found, or when the
    cache dir cannot be written.  The archive is named by what the JVM
    validates at map time: the java binary, the JDK's ``release`` file
    and the name, size and mtime of every jar."""
    m = _MEM.fullmatch(heap.strip().lower())
    if not m or int(m[1]) * _UNIT[m[2]] >= _OOPS_LIMIT:
        return None
    if any(env.get(k) for k in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return None
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    java = (os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME")
            else shutil.which("java", path=env.get("PATH")))
    if not java:
        return None
    java = os.path.realpath(java)
    key = hashlib.sha1(java.encode())
    jars = os.path.join(spark_home, "jars")
    cache = archive_dir(env)
    conf_dir = os.path.join(cache, "conf")
    try:
        conf = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.exists(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
            key.update(f.read())
        for name in sorted(os.listdir(jars)):
            st = os.stat(os.path.join(jars, name))
            key.update(f"\0{name} {st.st_size} {st.st_mtime_ns}".encode())
        os.makedirs(conf_dir, exist_ok=True)
    except OSError:
        return None
    if not os.access(cache, os.W_OK):
        return None
    path = os.path.join(cache, f"spark-{key.hexdigest()[:16]}.jsa")
    return ClassArchive(path, conf_dir, record=not os.path.exists(path))


def class_archive_mapped(spark: SparkSession) -> bool:
    """Whether the session's driver JVM mapped a class-data archive."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    prefix = archive_dir() + os.sep
    with open(f"/proc/{pid}/maps") as f:
        return any(line.rstrip().endswith(".jsa") and prefix in line for line in f)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _publish(proc: subprocess.Popen, archive: ClassArchive) -> None:
    """At exit of a recording process: wait for the JVM, which writes the
    archive on its way out (and on Linux only leaves once its stdin
    closes), then publish the archive by one atomic rename, and drop
    archives of other keys and temp files of dead recorders."""
    try:
        if proc.poll() is None:
            proc.stdin.close()
        ok = proc.wait(timeout=120) == 0
        with open(archive.tmp, "rb") as f:
            ok = ok and f.read(4) == _DYNAMIC_MAGIC
        if ok and not os.path.exists(archive.path):
            os.replace(archive.tmp, archive.path)
        else:
            _remove(archive.tmp)
        cache, keep = os.path.split(archive.path)
        for name in os.listdir(cache):
            if (name.endswith(".jsa") and name != keep) or (
                name.endswith(".tmp") and not _alive(int(name.rsplit(".", 2)[-2]))
            ):
                _remove(os.path.join(cache, name))
    except (OSError, ValueError, subprocess.TimeoutExpired):
        pass  # nothing published; a later session records again


def _builder(app_name: str, cpus: int, heap: str) -> SparkSession.Builder:
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Local-mode split granularity: test files are ~1-10 MB, so the
        # 128m default scans each table in 1 task on a 32-core box.
        # Measured at sf0.1: 2m -> 25-40% faster scans+aggs. On a real
        # cluster with TB-scale files, leave the 128m default (this knob
        # is intentionally NOT in RUNTIME_CONFS, which touch foreign
        # sessions).
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_MPB", "2m"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Static confs; the module docstring gives the reasons.
        .config("spark.python.daemon.module", "cobradb_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder


def _launch(builder: SparkSession.Builder, archive: ClassArchive) -> SparkSession:
    """Start the driver JVM on ``archive``; Spark's conf dir is swapped for
    an empty one only while the launcher runs."""
    builder = builder.config("spark.driver.extraJavaOptions", archive.java_options())
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if archive.record:
        atexit.register(_publish, SparkContext._gateway.proc, archive)
    return spark


def get_spark(app_name: str = "cobradb_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the canonical local session.

    local[N] = one JVM, N executor threads; shuffle partitions sized to
    cores (not the 200 default) because at local scale the scheduler
    overhead of tiny tasks dominates.  On a real cluster these knobs move
    to spark-submit; nothing else in the engine depends on local mode.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    heap = driver_memory()
    archive = None
    # only a call that launches the driver JVM can start it from an archive
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = class_archive(os.environ, heap)
    if archive is None:
        spark = _builder(app_name, cpus, heap).getOrCreate()
    else:
        try:
            spark = _launch(_builder(app_name, cpus, heap), archive)
        except PySparkRuntimeError as e:
            # a damaged archive crashes the JVM at start: drop it, start plain
            if archive.record or e.getCondition() != "JAVA_GATEWAY_EXITED":
                raise
            _remove(archive.path)
            spark = _builder(app_name, cpus, heap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
