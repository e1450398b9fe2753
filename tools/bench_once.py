"""Single-pass suite runner for bench.py's interleaved A/B.

Usage: python tools/bench_once.py <repo_root> <sf_dir> [query,query,...]

Imports the engine from <repo_root> (which may be a git worktree of a
FROZEN commit — the code under test), runs one untimed warmup pass and
one timed pass of the headline + TPC-H tracks, and prints one JSON line
{"headline": sec, "tpch": sec}.

With the optional third argument, runs ONLY the named registry keys
(one untimed warmup + 3 timed runs each, median) and prints
{"queries": {name: sec}} — the single-query interleaved A/B probe.

Every key runs through cobradb_spark/runner.py, loaded from THIS
checkout by file path: an older <repo_root> has no runner.py, and the
runner imports only the engine API every revision has (the registry and
the rank-pin release).  The only other engine call is get_spark.  So a
frozen commit needs no bench-protocol compatibility beyond that.

This module has no module-level engine import: bench.py imports its key
lists (HEADLINE, tpch_keys) without putting an engine on the path.

Why subprocess-per-pass: each A/B reading gets a fresh JVM, so JIT
state, GC history, and page cache from one variant cannot leak into the
other's timing — the alternation is the point.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys

# The headline track: label -> registry key (the DuckDB-floor metrics of
# BASELINE.md §2).
HEADLINE = {
    "q_pricing_summary": "agg_basic",
    "q_join_topn": "join_topn_flagship",
    "q_window_rank": "win_rank_topk_pergroup",
    "q_sessionize": "stream_session_window",
    "q_cosine_topk": "sim_cosine_topk",
    "q_grouping_sets": "agg_grouping_sets",
}


def tpch_keys(keys) -> list[str]:
    """The 22-shape TPC-H track: q1's shape is the agg_basic pricing
    summary; the rest are the sql_* flagship keys."""
    return ["agg_basic"] + sorted(k for k in keys if k.startswith("sql_"))


def load_runner():
    """This checkout's cobradb_spark/runner.py, whatever engine is on the path."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "cobradb_spark", "runner.py")
    spec = importlib.util.spec_from_file_location("bench_runner", path)
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module  # dataclasses resolve annotations through it
    spec.loader.exec_module(module)
    return module


def main() -> None:
    repo_root, sf_dir = sys.argv[1], sys.argv[2]
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    sys.path.insert(0, repo_root)
    runner = load_runner()

    from cobradb_spark import registry
    from cobradb_spark.session import get_spark

    spark = get_spark("bench-ab")

    def one_pass(names: list[str]) -> float:
        total = 0.0
        for name in names:
            rec = runner.run(spark, name, sf_dir)
            if rec.error:
                raise RuntimeError(f"{name} failed:\n{rec.error}")
            total += rec.total_s
        return total

    if only:
        per: dict[str, float] = {}
        for name in only:
            one_pass([name])  # warmup: codegen + page cache
            per[name] = round(statistics.median(one_pass([name]) for _ in range(3)), 4)
        out = {"queries": per}
    else:
        headline, tpch = list(HEADLINE.values()), tpch_keys(registry.all_queries())
        one_pass(headline)  # warmup: codegen + page cache
        one_pass(tpch)
        out = {"headline": round(one_pass(headline), 4), "tpch": round(one_pass(tpch), 4)}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
