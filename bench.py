"""Headline benchmark — BASELINE.md protocol.

Runs the six headline queries (matching the DuckDB-floor metrics in
BASELINE.md §2) and the 22-shape TPC-H track (q1 = the agg_basic pricing
summary + the 21 sql_* keys) at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on one shared local[$SPARK_GRAFT_CPUS] session.
Per query: one untimed warmup (codegen/JIT), then 3 timed runs through
cobradb_spark/runner.py's noop sink, median reported.  `layers` holds
the build / plan / execute split and job counts of each median run;
`steal_jiffies` the host CPU steal summed over the timed runs.

Absolute seconds drift with the machine, so the `ab` block runs an
INTERLEAVED A/B — the engine this one replaces (a git worktree of the
first first-parent commit whose cobradb_spark/ differs from the working
tree) vs this checkout, in fresh JVMs via tools/bench_once.py — so both
variants see the same machine conditions.  One DISCARDED WARMUP PAIR
runs first (recorded in `warmup_discarded`, excluded from the medians)
so one-time session costs are paid before any measured run, and the
measured pairs ALTERNATE side order so neither side systematically runs
first.  Fail-soft: any git/subprocess problem degrades to
"ab": {"error": ...} without touching the primary numbers.  Tunables:
SPARK_GRAFT_AB=0 disables, SPARK_GRAFT_AB_REF overrides the ref,
SPARK_GRAFT_AB_PAIRS the measured pair count (default 4 — an EVEN
count, so the alternation is exactly balanced).

Prints TWO JSON lines (last complete line wins): the primary payload
immediately —
  {"metric": "suite_seconds", "value": N, "unit": "sec",
   "queries": {...}, "sf": ...,
   "tpch_suite_seconds": M, "tpch_queries": {...},
   "layers": {label: {...}}, "steal_jiffies": J}
— then (unless SPARK_GRAFT_AB=0) the SAME payload re-emitted with the
`ab` block added:
  {..., "ab": {"ref": sha, "ref_runs": [...], "head_runs": [...],
               "headline_ratio": r1, "tpch_ratio": r2}}
A consumer that reads only the first line gets complete primary numbers
(the A/B takes minutes and must not delay them); a consumer that reads
the last line also gets the A/B.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [_REPO, os.path.join(_REPO, "tools")]

from bench_once import HEADLINE, tpch_keys  # noqa: E402

from cobradb_spark import registry  # noqa: E402
from cobradb_spark.runner import run  # noqa: E402
from cobradb_spark.session import get_spark  # noqa: E402

LAYERS = ("build_s", "build_jobs", "plan_s", "exec_s", "exec_jobs")


def _timed_suite(spark, sf_dir, labels: dict[str, str]) -> tuple[dict, dict, int]:
    """Per label: one untimed warmup (codegen + page cache), then 3 timed
    runs.  Returns the median totals, the layers of each median run and
    the steal jiffies summed over the timed runs."""
    results, layers, steal = {}, {}, 0
    for label, key in labels.items():
        run(spark, key, sf_dir)  # warmup
        recs = [run(spark, key, sf_dir) for _ in range(3)]
        failed = next((r for r in recs if r.error), None)
        if failed:
            raise RuntimeError(f"{key} failed:\n{failed.error}")
        mid = sorted(recs, key=lambda r: r.total_s)[1]
        results[label] = round(mid.total_s, 4)
        layers[label] = {f: round(getattr(mid, f), 4) for f in LAYERS}
        steal += sum(r.steal_jiffies for r in recs)
    return results, layers, steal


def _ab_ref() -> str:
    """The first first-parent commit whose engine (cobradb_spark/) differs
    from the working tree: HEAD when the engine is dirty, otherwise the
    commit before the last engine-changing one.  The worktree A/B then
    compares the engine under test with the one it replaces."""

    def git(*args):
        return subprocess.run(["git", "-C", _REPO, *args], capture_output=True,
                              text=True, timeout=60, check=False)

    dirty = bool(git("status", "--porcelain", "--", "cobradb_spark").stdout.strip())
    for sha in git("rev-list", "--first-parent", "HEAD").stdout.split():
        if dirty or git("diff", "--quiet", sha, "--", "cobradb_spark").returncode:
            return sha[:12]
    raise RuntimeError("no first-parent commit has a different engine")


def _bench_once(repo_root: str, sf_dir: str) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "bench_once.py"), repo_root, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def interleaved_ab(sf_dir: str) -> dict:
    """Fresh-JVM A/B: one discarded warmup pair, then `pairs` measured
    pairs with alternating side order; medians + ratio."""
    try:
        ref = os.environ.get("SPARK_GRAFT_AB_REF") or _ab_ref()
        pairs = int(os.environ.get("SPARK_GRAFT_AB_PAIRS", "4"))
        wt = f"/tmp/bench_ab_{ref}"
    except Exception as e:  # noqa: BLE001 — fail-soft by contract
        return {"error": f"ab config: {e}"}
    try:
        subprocess.run(
            ["git", "-C", _REPO, "worktree", "add", "--force", "--detach", wt, ref],
            capture_output=True,
            text=True,
            timeout=120,
            check=True,
        )
    except Exception as e:  # noqa: BLE001 — fail-soft by contract
        return {"error": f"worktree: {e}"}
    try:
        # discarded warmup pair: pays the session's one-time costs so
        # the FIRST measured JVM of each side starts warm
        warmup = {
            "ref": _bench_once(wt, sf_dir),
            "head": _bench_once(_REPO, sf_dir),
        }
        ref_runs, head_runs = [], []
        for i in range(pairs):
            if i % 2 == 0:
                ref_runs.append(_bench_once(wt, sf_dir))
                head_runs.append(_bench_once(_REPO, sf_dir))
            else:
                head_runs.append(_bench_once(_REPO, sf_dir))
                ref_runs.append(_bench_once(wt, sf_dir))
        med = lambda runs, k: statistics.median(r[k] for r in runs)  # noqa: E731
        return {
            "ref": ref,
            "pairs": pairs,
            "warmup_discarded": warmup,
            "ref_runs": ref_runs,
            "head_runs": head_runs,
            "headline_ratio": round(med(head_runs, "headline") / med(ref_runs, "headline"), 4),
            "tpch_ratio": round(med(head_runs, "tpch") / med(ref_runs, "tpch"), 4),
        }
    except Exception as e:  # noqa: BLE001
        return {"error": f"ab run: {e}"}
    finally:
        subprocess.run(
            ["git", "-C", _REPO, "worktree", "remove", "--force", wt],
            capture_output=True,
            timeout=60,
        )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    results, layers, steal = _timed_suite(spark, sf_dir, HEADLINE)
    tpch, tpch_layers, tpch_steal = _timed_suite(
        spark, sf_dir, {("q1" if k == "agg_basic" else k): k for k in tpch_keys(registry.all_queries())})
    spark.stop()  # free the JVM before the A/B subprocesses spin theirs
    payload = {
        "metric": "suite_seconds",
        "value": round(sum(results.values()), 4),
        "unit": "sec",
        "queries": results,
        "sf": float(sf),
        "tpch_suite_seconds": round(sum(tpch.values()), 4),
        "tpch_queries": tpch,
        "layers": {**layers, **tpch_layers},
        "steal_jiffies": steal + tpch_steal,
    }
    # Emit the primary numbers IMMEDIATELY (and flush): if a harness
    # timeout kills the slower A/B phase below, the last complete JSON
    # line still carries the whole primary benchmark.
    print(json.dumps(payload), flush=True)
    ab = (
        interleaved_ab(sf_dir)
        if os.environ.get("SPARK_GRAFT_AB", "1") != "0"
        else {"error": "disabled"}
    )
    payload["ab"] = ab
    print(json.dumps(payload), flush=True)


if __name__ == "__main__":
    main()
