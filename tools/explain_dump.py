"""Dump .explain("formatted") for registry keys to <out_dir>/ files.

Usage:
  python tools/explain_dump.py <out_dir> <suffix> key [key ...]
  python tools/explain_dump.py /tmp/plans before agg_basic join_topn_flagship

Writes <out_dir>/<key>_<suffix>.txt per key.  Planning only — no jobs
run — so this is cheap and safe to run alongside other sessions.  The
committed record of every key's plan is its hash in plans/HASHES.json
(tools/plan_audit.py); this tool gives the full text behind a hash.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cobradb_spark import registry
from cobradb_spark.plans import formatted_plan
from cobradb_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain-dump")
    qs = registry.all_queries()
    for key in keys:
        plan = formatted_plan(qs[key].fn(spark, SF))
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {key} — explain('formatted') at {SF}\n\n")
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
