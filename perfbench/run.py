"""The repo benchmark: end-to-end and per-layer metrics per workload.

Usage (from the repository root):

  python3 perfbench/run.py --workload tpch|mixed|all \
      --seed N --seconds S --trace 0|1

Load model: one process, one closed-loop client.  Keys run one after
another through the registry (``registry.all_queries()[key].fn(spark,
sf_dir)`` -> noop sink) on one ``local[N]`` session, N = the usable CPU
count.  The tables are the fixed test data under ``$SPARK_GRAFT_TESTDATA``
(default ``/root/testdata``), the same tables the tests and
``tools/check.py`` read; the seed permutes the key order of every pass.

A run is one fresh worker process (``worker.py``) that sets up a
session, runs a first pass, a correctness pass against the DuckDB
oracles, and warm passes for ``--seconds``.  The last line of stdout is
one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer ones (``--trace 1``), as named
with their units in ``BENCHMARK.json``.  Lines
before it give each metric with its unit and the environment of every
pass (CPU steal, load average, source hash).

Everything the run writes goes under ``.perfbench/`` in the repository
root.  Exits non-zero, without a result line, when the engine sources or
the test data are not there, or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TIME_LIMIT_S = 170
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


class BenchError(RuntimeError):
    pass


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical RAM, between 1 and 4 GiB."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(4096, total_mb // 4))}m"


def child_env() -> dict[str, str]:
    """Environment for every process the run starts: the engine on
    PYTHONPATH (Spark's Python workers inherit it, whatever the cwd), the
    session sized to the box, and all temp/spill paths inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        # Every JVM, spark-submit's launcher too: no perf-data file in /tmp.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
        ),
        PYTHONHASHSEED="0",
    )
    return env


def run_worker(args: list[str], timeout: float, log: str) -> None:
    """Run the worker in its own process group; kill the group on timeout."""
    t0 = time.monotonic()
    with open(log, "ab") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            cwd=WORK,
            env=child_env(),
            stdout=subprocess.PIPE,
            stderr=err,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            raise BenchError(f"worker timed out; see {log}") from None
        finally:
            # The worker waits for its JVM; this catches whatever is left of
            # its process group (Python workers, or all of it on timeout).
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    sys.stdout.write(out.decode())
    print(f"perfbench worker {time.monotonic() - t0:.2f} s wall")
    if proc.returncode:
        raise BenchError(f"worker exited {proc.returncode}; see {log}")


def read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def quantile(xs: list[float], q: int) -> float:
    """q-th percentile, statistics.quantiles' inclusive method."""
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def per_key_samples(passes: list[dict]) -> dict[str, list[float]]:
    per_key: dict[str, list[float]] = {}
    for p in passes:
        for key, s in p["samples"]:
            per_key.setdefault(key, []).append(s)
    return per_key


def median_pass_seconds(passes: list[dict]) -> float:
    return statistics.median(p["seconds"] for p in passes)


def end_to_end(rec: dict) -> dict[str, float]:
    warm = [p for p in rec["passes"] if p["kind"] == "warm" and not p["traced"]]
    samples = [s for p in warm for _, s in p["samples"]]
    if not warm or not samples:
        raise BenchError("no untraced warm pass completed")
    return {
        "setup_s": rec["setup"]["setup_s"],
        "first_pass_s": rec["passes"][0]["seconds"],
        "pass_s": median_pass_seconds(warm),
        "query_p50_s": statistics.median(samples),
        "query_p90_s": quantile(samples, 90),
    }


def per_layer(names: list[str], rec: dict, cpus: int) -> dict[str, float]:
    passes = rec["passes"]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    if not traced or not untraced:
        raise BenchError("a traced run needs traced and untraced warm passes")

    def med(name: str) -> float:
        return statistics.median(p["layers"].get(name, 0.0) for p in traced)

    out = {
        "session.start_s": rec["setup"]["session_start_s"],
        "registry.load_s": rec["setup"]["registry_load_s"],
        "session.jvm_peak_rss_mb": rec["jvm_peak_rss_mb"],
        "io.first_load_s": passes[0]["layers"].get("io.load_s", 0.0),
    }
    for name in names:
        if name not in out and name not in ("exec.busy_frac", "trace.overhead_s"):
            out[name] = med(name)
    out["exec.busy_frac"] = out["exec.task_run_s"] / (out["exec.s"] * cpus) if out["exec.s"] else 0.0
    out["trace.overhead_s"] = median_pass_seconds(traced) - median_pass_seconds(untraced)
    return out


def run_workload(
    name: str, units: dict[str, str], seed: int, seconds: float, trace: int, keys: int, passes: int
) -> dict:
    wl = WORKLOADS[name]
    sf_dir = os.path.join(TESTDATA, f"sf{wl.sf}")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        raise BenchError(f"no test data in {sf_dir} (set SPARK_GRAFT_TESTDATA)")
    log = os.path.join(WORK, f"{name}-seed{seed}-trace{trace}.log")
    open(log, "w").close()
    out = os.path.join(WORK, "run.json")
    run_worker(
        [
            out, "--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--sf-dir", sf_dir, "--keys", str(keys), "--passes", str(passes),
        ],
        TIME_LIMIT_S,
        log,
    )
    rec = read_json(out)
    attempted = sum(p["attempts"] for p in rec["passes"])
    failures = [f for p in rec["passes"] for f in p["failures"]]
    for f in failures:
        print(f"perfbench FAILED {f}", file=sys.stderr)
    cpus = cpu_count()
    metrics = per_layer(list(units), rec, cpus) if trace else end_to_end(rec)
    if set(metrics) != set(units):
        raise BenchError(f"measured {sorted(metrics)}, BENCHMARK.json names {sorted(units)}")
    warm = [p for p in rec["passes"] if p["kind"] == "warm" and not p["traced"]]
    samples = [s for p in warm for _, s in p["samples"]]
    above = sum(1 for s in samples if s > quantile(samples, 90))
    print(
        f"perfbench {name}: {len(rec['keys'])} keys at sf{wl.sf}, seed {seed}, {len(warm)} untraced"
        f" warm passes, {len(samples)} query samples, {above} above their p90"
    )
    for key, xs in sorted(per_key_samples(warm).items()):
        print(f"perfbench {name} key {key} median {statistics.median(xs):.4f} s over {len(xs)}")
    for k, v in metrics.items():
        print(f"perfbench {name} {k} = {v:.6g} {units[k]}")
    print(f"perfbench {name} failed_frac = {len(failures) / attempted:.6g} ({len(failures)}/{attempted})")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keys", type=int, default=0, help="smoke runs: only the first K keys")
    ap.add_argument("--passes", type=int, default=0, help="smoke runs: at most P warm passes")
    args = ap.parse_args()
    # On SIGTERM unwind through run_worker's cleanup, which kills the worker group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "cobradb_spark", "registry.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    os.makedirs(WORK, exist_ok=True)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    try:
        results = {
            n: run_workload(n, units, args.seed, args.seconds, args.trace, args.keys, args.passes)
            for n in names
        }
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(results if args.workload == "all" else results[args.workload]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
