"""One way to run a registry key: build, plan, execute, release.

``run(spark, key, sf_dir, sink)`` times a key layer by layer and returns
a ``RunRecord``:

- build: the query function, inside a job group, so the Spark jobs a
  query runs while its frame is built are counted (``build_jobs``);
- plan: one ``executedPlan()`` on the built frame (``plan_s``), which
  also says whether the plan hands rows to Python workers (``python``);
- execute: the sink, inside a second job group (``exec_jobs``).

``total_s = build_s + exec_s``: the span a plain build-then-sink loop
times.  The explicit plan step is left out of it, because the sink plans
its own query again.  The record also carries the host's CPU steal over
the run and the change in the session's persisted-RDD count.  A failing
key never raises: its traceback lands in ``error``.  The rank pins are
released in a ``finally``, so no harness releases them itself.

Sinks: ``"noop"`` writes through Spark's noop format (the full plan runs,
nothing is collected); ``"pandas"`` collects with ``toPandas()`` and keeps
the frame and the output schema on the record.

This module imports only ``registry`` and ``release_rank_caches``, the
engine API every revision has: tools/bench_once.py loads this file by
path into an older revision's engine for the A/B.
"""

from __future__ import annotations

import itertools
import re
import time
import traceback
from dataclasses import asdict, dataclass, field
from typing import Any

from cobradb_spark import registry
from cobradb_spark.operators.rank import release_rank_caches

SINKS = ("noop", "pandas")
# physical operators that hand rows to Python workers, as Spark 4 names
# them (grouped-aggregate and window pandas UDFs plan as
# ArrowAggregatePython / ArrowWindowPython; a Python data source scan
# prints as "BatchScan <name>[...] (Python)")
PYTHON_NODES = re.compile(
    r"EvalPython|MapInArrow|MapInPandas|GroupsInPandas|GroupsInArrow"
    r"|ArrowAggregatePython|ArrowWindowPython|AggregateInPandas|WindowInPandas"
    r"|BatchScan [^\n]*\(Python\)"
)
_GROUPS = itertools.count()


@dataclass
class RunRecord:
    key: str
    sf_dir: str
    sink: str
    build_s: float = 0.0
    build_jobs: int = 0
    plan_s: float = 0.0
    python: bool = False
    exec_s: float = 0.0
    exec_jobs: int = 0
    total_s: float = 0.0
    steal_jiffies: int = 0
    persisted_delta: int = 0
    error: str | None = None
    # sink="pandas" only; left out of to_json()
    frame: Any = field(default=None, repr=False)
    schema: Any = field(default=None, repr=False)

    def to_json(self) -> dict:
        out = asdict(self)
        del out["frame"], out["schema"]
        return out


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run(spark, key: str, sf_dir: str, sink: str = "noop") -> RunRecord:
    """Build, plan and execute one registry key; see the module doc."""
    if sink not in SINKS:
        raise ValueError(f"sink must be one of {SINKS}, got {sink!r}")
    sc = spark.sparkContext
    rec = RunRecord(key, sf_dir, sink)
    n = next(_GROUPS)
    build_group, exec_group = f"run-{n}-build:{key}", f"run-{n}-exec:{key}"
    persisted0 = sc._jsc.getPersistentRDDs().size()
    steal0 = _steal_jiffies()
    try:
        fn = registry.all_queries()[key].fn
        sc.setJobGroup(build_group, build_group)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        rec.build_s = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        t0 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        rec.plan_s = time.perf_counter() - t0
        rec.python = bool(PYTHON_NODES.search(plan.toString()))
        sc.setJobGroup(exec_group, exec_group)
        t0 = time.perf_counter()
        if sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            rec.frame, rec.schema = df.toPandas(), df.schema
        rec.exec_s = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 - a failing key is recorded, not raised
        rec.error = traceback.format_exc()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        release_rank_caches()
    rec.total_s = rec.build_s + rec.exec_s
    rec.steal_jiffies = _steal_jiffies() - steal0
    rec.persisted_delta = sc._jsc.getPersistentRDDs().size() - persisted0
    # the status store is filled by the listener bus, behind the jobs
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    rec.build_jobs = len(tracker.getJobIdsForGroup(build_group))
    rec.exec_jobs = len(tracker.getJobIdsForGroup(exec_group))
    return rec
