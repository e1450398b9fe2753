"""SparkSession factory with the engine's canonical configuration.

Design notes (SURVEY.md §4.3.6): UTC session timezone and AQE are pinned
here because timestamp normalization is the likeliest source of
hash-mismatch against the DuckDB oracle, and AQE (coalesce + skew-join)
is the runtime re-planner we rely on at scale instead of hand-tuned
partition counts.

Two static confs cut fixed per-task and per-call cost.  Being static, they
apply only to sessions built here; a foreign session (the verify driver's,
which __spark_entry__ receives) keeps the stock daemon and call-site capture.

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
"""

from __future__ import annotations

import os

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


def get_spark(app_name: str = "cobradb_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the canonical local session.

    local[N] = one JVM, N executor threads; shuffle partitions sized to
    cores (not the 200 default) because at local scale the scheduler
    overhead of tiny tasks dominates.  On a real cluster these knobs move
    to spark-submit; nothing else in the engine depends on local mode.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
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
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
