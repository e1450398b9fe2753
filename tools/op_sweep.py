"""Full-registry sweep: one warmup + one timed runner record per key.

Usage:
  python tools/op_sweep.py [out.jsonl] [keys...]
  python tools/op_sweep.py --join small.jsonl big.jsonl

Runs EVERY registry key (or the named subset) at $SPARK_GRAFT_SF_DIR
through cobradb_spark/runner.py's noop sink on one shared session and
writes one JSON line per key: the runner record (build / plan / execute
seconds, build and execute job counts, whether the plan runs Python
workers, steal, persisted-RDD delta, error).  A failing key is
recorded, not fatal.

--join reads two sweeps of the same keys at two scales and rewrites the
generated table of SCALING.md (between its BEGIN/END markers) with each
key's time at both scales, the ratio and the build jobs.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cobradb_spark import registry  # noqa: E402
from cobradb_spark.runner import run  # noqa: E402
from cobradb_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BEGIN, END = "<!-- BEGIN op_sweep --join -->", "<!-- END op_sweep --join -->"


def sweep(out_path: str, keys: list[str]) -> None:
    keys = keys or sorted(registry.all_queries())
    spark = get_spark("op-sweep")
    build_jobs, total_s, errors = 0, 0.0, []
    with open(out_path, "w") as f:
        for i, key in enumerate(keys):
            rec = run(spark, key, SF)  # warmup
            if not rec.error:
                rec = run(spark, key, SF)
            f.write(json.dumps(rec.to_json()) + "\n")
            f.flush()
            if rec.error:
                errors.append(key)
            build_jobs += rec.build_jobs
            total_s += rec.total_s
            if (i + 1) % 25 == 0:
                print(f"... {i + 1}/{len(keys)}", file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps({"n": len(keys), "total_s": round(total_s, 1),
                      "build_jobs": build_jobs, "errors": errors}))


def _read(path: str) -> dict[str, dict]:
    with open(path) as f:
        return {r["key"]: r for r in map(json.loads, f)}


def join(small_path: str, big_path: str) -> None:
    small, big = _read(small_path), _read(big_path)
    a, b = (os.path.basename(next(iter(r.values()))["sf_dir"].rstrip("/")) for r in (small, big))
    ok = sorted(k for k in small.keys() & big.keys() if not small[k]["error"] and not big[k]["error"])
    failed = sorted((small.keys() | big.keys()) - set(ok))
    ratio = {k: big[k]["total_s"] / small[k]["total_s"] for k in ok}
    summed = lambda recs, f: sum(recs[k][f] for k in ok)  # noqa: E731
    table = [
        BEGIN, "",
        f"| key | {a} (s) | {b} (s) | ratio | build jobs {a} | build jobs {b} |",
        "|---|---|---|---|---|---|",
        *(f"| {k} | {small[k]['total_s']:.3f} | {big[k]['total_s']:.3f} | {ratio[k]:.1f}x "
          f"| {small[k]['build_jobs']} | {big[k]['build_jobs']} |" for k in ok),
        "",
        f"{len(ok)} keys ran at both scales; failed: {', '.join(failed) or 'none'}. "
        f"Summed over them: {summed(small, 'total_s'):.1f} s and {summed(small, 'build_jobs')} "
        f"build jobs at {a}, {summed(big, 'total_s'):.1f} s and {summed(big, 'build_jobs')} at {b}. "
        "Highest ratios: "
        + ", ".join(f"{k} {ratio[k]:.1f}x" for k in sorted(ok, key=ratio.get, reverse=True)[:5]) + ".",
        "", END,
    ]
    path = os.path.join(ROOT, "SCALING.md")
    with open(path) as f:
        head, rest = f.read().split(BEGIN, 1)
    with open(path, "w") as f:
        f.write(head + "\n".join(table) + rest.split(END, 1)[1])


if __name__ == "__main__":
    if sys.argv[1:2] == ["--join"]:
        join(*sys.argv[2:4])
    else:
        sweep(sys.argv[1] if len(sys.argv) > 1 else "/tmp/op_sweep.jsonl", sys.argv[2:])
