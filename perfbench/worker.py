"""In-session half of the benchmark: one fresh process, one Spark session.

Usage (run.py starts this; the environment it sets is required):

  python3 worker.py <out.json> --workload W --seed N --seconds S
                    --trace 0|1 --sf-dir DIR [--keys K] [--passes P]

Times this fresh process getting a ready session with the registry
loaded, then runs the workload's keys one after another: one first pass
through the noop sink in the fresh JVM, one correctness pass that
collects every key and compares it with its DuckDB oracle, then warm
passes through the noop sink until ``--seconds`` are spent (at least
three).  Each pass permutes the key order from the seed.

With ``--trace 1`` the warm passes alternate untraced and traced; a
traced key is timed layer by layer from outside, by wrapping the calls
into each layer's public functions.  Everything measured is written to
``out.json``; per-pass environment lines go to stdout.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Fewest warm passes a run makes: pass_s is their median, so one pass
# stalled by the host cannot move it.  A traced run needs one untraced
# and one traced pass.
MIN_WARM_PASSES = 3
MIN_TRACED_WARM_PASSES = 2

# Physical operators that hand rows to Python workers.
PYTHON_NODES = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonDataSource"
)


class LoadTrace:
    """Counts and times calls to ``cobradb_spark.io.load_table``.

    Installed before the registry loads, because query modules bind
    ``from cobradb_spark.io import load_table`` at import time."""

    def __init__(self) -> None:
        self.on = False
        self.calls = 0
        self.seconds = 0.0

    def install(self) -> None:
        from cobradb_spark import io

        inner = io.load_table

        def load_table(*args, **kwargs):
            if not self.on:
                return inner(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        io.load_table = load_table

    def take(self) -> tuple[int, float]:
        out, self.calls, self.seconds = (self.calls, self.seconds), 0, 0.0
        return out


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_sha() -> str:
    """Content hash of the engine sources (the checkout may not be a git repo)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "cobradb_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


@dataclass
class Session:
    spark: object
    queries: dict
    setup: dict
    loads: LoadTrace


def start_session(trace: bool) -> Session:
    loads = LoadTrace()
    import pyspark  # noqa: F401

    if trace:
        loads.install()
    from cobradb_spark import registry
    from cobradb_spark.session import get_spark

    t_import = time.perf_counter()
    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    queries = registry.all_queries()
    t_ready = time.perf_counter()
    setup = {
        "import_s": t_import - _T_START,
        "session_start_s": t_session - t_import,
        "registry_load_s": t_ready - t_session,
        "setup_s": t_ready - _T_START,
    }
    return Session(spark, queries, setup, loads)


@dataclass
class PassRecord:
    kind: str
    traced: bool
    attempts: int = 0
    seconds: float = 0.0
    samples: list[tuple[str, float]] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    env: dict = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + value


@contextmanager
def measured(rec: PassRecord):
    """Time the block into rec.seconds and record the pass's environment:
    CPU steal jiffies and load average before and after."""
    steal0, load0 = steal_jiffies(), loadavg()
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        rec.seconds = time.perf_counter() - t0
        rec.env = {
            "steal_jiffies": steal_jiffies() - steal0,
            "loadavg_before": load0,
            "loadavg_after": loadavg(),
        }


class Runner:
    def __init__(self, sess: Session, sf_dir: str) -> None:
        from cobradb_spark.operators.rank import release_rank_caches

        self.s = sess
        self.spark = sess.spark
        self.sc = sess.spark.sparkContext
        self.sf_dir = sf_dir
        self.release = release_rank_caches
        self.has_python: dict[str, bool] = {}
        self.groups = 0

    # -- state checks -------------------------------------------------
    def leaked(self) -> tuple[int, int]:
        """(persisted RDDs, active streaming queries) left behind."""
        return self.sc._jsc.getPersistentRDDs().size(), len(self.spark.streams.active)

    # -- job accounting -----------------------------------------------
    def _group(self, tag: str) -> str:
        self.groups += 1
        group = f"perfbench-{tag}-{self.groups}"
        self.sc.setJobGroup(group, group)
        return group

    def _jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _exec_stats(self, rec: PassRecord, jobs: list[int]) -> None:
        """Stage and task totals for `jobs` from the JVM status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage skipped by AQE has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            rec.add("exec.stages", 1)
            rec.add("exec.tasks", st.numCompleteTasks())
            rec.add("exec.task_run_s", st.executorRunTime() / 1e3)
            rec.add("exec.task_cpu_s", st.executorCpuTime() / 1e9)
            rec.add("exec.shuffle_write_bytes", st.shuffleWriteBytes())
            rec.add("exec.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())

    # -- one key ------------------------------------------------------
    def run_key(self, key: str, rec: PassRecord) -> None:
        fn = self.s.queries[key].fn
        traced = rec.traced
        rec.attempts += 1
        self.s.loads.on = traced
        t0 = time.perf_counter()
        try:
            if traced:
                group = self._group("build")
            df = fn(self.spark, self.sf_dir)
            t_built = time.perf_counter()
            plan_s = 0.0
            if traced:
                rec.add("build.s", t_built - t0)
                rec.add("build.jobs", len(self._jobs(group)))
                t_plan = time.perf_counter()
                plan = df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - t_plan
                rec.add("plan.s", plan_s)
                if key not in self.has_python:
                    self.has_python[key] = bool(PYTHON_NODES.search(plan.toString()))
                group = self._group("exec")
            t_exec = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_done = time.perf_counter()
            pins = self.release()
            t_released = time.perf_counter()
        except Exception:  # noqa: BLE001 - a failing key is counted, not fatal
            self.release()
            rec.failures.append(f"{key}: raised\n{traceback.format_exc(limit=3)}")
            return
        finally:
            self.s.loads.on = False
        rec.samples.append((key, t_released - t0 - plan_s))
        if traced:
            exec_s = t_done - t_exec
            rec.add("exec.s", exec_s)
            jobs = self._jobs(group)
            rec.add("exec.jobs", len(jobs))
            self._exec_stats(rec, jobs)
            rec.add("rank.pins", pins)
            rec.add("rank.release_s", t_released - t_done)
            if self.has_python.get(key):
                rec.add("python.exec_s", exec_s)
        rdds, streams = self.leaked()
        if traced:
            rec.add("rank.leaked_rdds", rdds)
        if rdds or streams:
            rec.failures.append(f"{key}: leaked {rdds} persisted RDDs, {streams} streaming queries")

    def run_pass(self, kind: str, keys: list[str], traced: bool) -> PassRecord:
        with measured(PassRecord(kind, traced)) as rec:
            for key in keys:
                self.run_key(key, rec)
        if traced:
            calls, secs = self.s.loads.take()
            rec.add("io.load_calls", calls)
            rec.add("io.load_s", secs)
        return rec

    # -- correctness ----------------------------------------------------
    def check_pass(self, keys: list[str]) -> PassRecord:
        """Collect every key once and compare it with its DuckDB oracle
        (tools/check.py's canonize/compare); rows-only keys must return rows."""
        spec = importlib.util.spec_from_file_location(
            "perfbench_check", os.path.join(ROOT, "tools", "check.py")
        )
        check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(check)
        with check.duck_connect(self.sf_dir) as con, measured(PassRecord("check", False)) as rec:
            for key in keys:
                q = self.s.queries[key]
                rec.attempts += 1
                try:
                    got = q.fn(self.spark, self.sf_dir).toPandas()
                    self.release()
                    if q.oracle is None:
                        status, msg = ("EXACT", "") if len(got) else ("FAIL", "no rows")
                    else:
                        status, msg = check.compare(got, con.execute(q.oracle).df())
                except Exception:  # noqa: BLE001 - a failing key is counted, not fatal
                    self.release()
                    status, msg = "FAIL", "raised\n" + traceback.format_exc(limit=3)
                rdds, streams = self.leaked()
                if status != "FAIL" and (rdds or streams):
                    status, msg = "FAIL", f"leaked {rdds} persisted RDDs, {streams} streaming queries"
                if status == "FAIL":
                    rec.failures.append(f"{key}: {msg}")
        return rec


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes), so no process outlives this one."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def env_line(i: int, rec: PassRecord) -> str:
    return "perfbench pass " + json.dumps(
        {
            "pass": i,
            "kind": rec.kind,
            "traced": rec.traced,
            "seconds": round(rec.seconds, 4),
            "attempts": rec.attempts,
            "failures": len(rec.failures),
            **rec.env,
            "samples": [[key, round(s, 4)] for key, s in rec.samples],
        }
    )


def run(args: argparse.Namespace) -> dict:
    wl = WORKLOADS[args.workload]
    keys = list(wl.keys[: args.keys] if args.keys else wl.keys)
    sess = start_session(bool(args.trace))
    runner = Runner(sess, args.sf_dir)
    rng = random.Random(args.seed)
    order = lambda: rng.sample(keys, len(keys))  # noqa: E731
    print(
        "perfbench env "
        + json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "sf": wl.sf,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
                "git_sha": git_sha(),
                "src_sha": source_sha(),
            }
        ),
        flush=True,
    )
    passes = [runner.run_pass("first", order(), bool(args.trace))]
    print(env_line(0, passes[0]), flush=True)
    # The correctness pass runs every key once more before the timed warm
    # passes, so it also carries the JIT past its first-pass transient.
    passes.append(runner.check_pass(order()))
    print(env_line(1, passes[1]), flush=True)
    # Warm passes until the time is spent, and at least the minimum; in a
    # traced run they go untraced, traced, traced, untraced, ... so the
    # tracing overhead is measured in one JVM without favouring either side
    # with later passes.
    min_passes = MIN_TRACED_WARM_PASSES if args.trace else MIN_WARM_PASSES
    t_end = time.perf_counter() + args.seconds
    while len(passes) - 2 < (args.passes or 10**9):
        warm = len(passes) - 2
        if warm >= min_passes and time.perf_counter() >= t_end:
            break
        traced = bool(args.trace) and warm % 4 in (1, 2)
        passes.append(runner.run_pass("warm", order(), traced))
        print(env_line(len(passes) - 1, passes[-1]), flush=True)
    out = {
        "setup": sess.setup,
        "keys": keys,
        "jvm_peak_rss_mb": jvm_peak_rss_mb(sess.spark),
        "passes": [vars(p) for p in passes],
    }
    stop_session(sess.spark)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--keys", type=int, default=0, help="run only the first K keys")
    ap.add_argument("--passes", type=int, default=0, help="at most P warm passes")
    args = ap.parse_args()
    out = run(args)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
