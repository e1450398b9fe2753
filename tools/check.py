"""Local correctness harness — mimics the driver's t2 gate.

Runs each registered query on Spark and (when an oracle exists) the
equivalent SQL on DuckDB over the same parquet tables, then compares
row count, column-name set, and values.  Values are compared twice:
EXACT (bit-identical after canonicalization) and NEAR (floats within
rtol 1e-9).  Anything that is only NEAR needs its formulation tightened
(rounding at declared precision on both sides) before being trusted
against the driver's value-hash.

Usage:
  python tools/check.py                 # all queries, sf0.01
  python tools/check.py agg_basic ...   # subset
  python tools/check.py --sf /root/testdata/sf0.001
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cobradb_spark import registry
from cobradb_spark.runner import run
from cobradb_spark.schemas import TABLES
from cobradb_spark.session import get_spark


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return None
        return v.floor("us").to_datetime64().astype("datetime64[us]").item()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _sort_key(v) -> str:
    """Float-insensitive ordering key: floats quantized to 9 significant
    digits so a low-bit difference between engines cannot reorder one
    list relative to the other and misalign the pairwise compare
    (round-1 ADVICE item).  Non-floats keep their exact repr."""
    if isinstance(v, float):
        if v == 0.0:
            v = 0.0  # collapse -0.0
        return f"f{v:.9e}"
    if isinstance(v, tuple):
        return "(" + ",".join(_sort_key(x) for x in v) + ")"
    return repr(v)


def canonize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False, name=None):
        canon = tuple(_canon_cell(v) for v in row)
        rows.append(canon)
    rows.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return rows


def _near(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_near(x, y) for x, y in zip(a, b))
    return a == b


def _align_near(a_rows: list, b_rows: list) -> bool:
    """Greedy multiset matching under the _near tolerance: every leftover
    spark row must absorb one distinct leftover duck row.  O(n^2) but
    runs only on rows the pairwise zip already failed."""
    remaining = list(b_rows)
    for x in a_rows:
        for i, y in enumerate(remaining):
            if _near(x, y):
                remaining.pop(i)
                break
        else:
            return False
    return not remaining


def _dtype_class(s: pd.Series) -> str:
    """Driver-parity dtype bucket.  The driver's value-hash is
    dtype-sensitive: CORRECTNESS_r07 failed two keys whose VALUES were
    bit-identical but whose oracle column came back float64 (DuckDB
    HUGEINT -> pandas float) against Spark's int64.  Local EXACT must
    therefore require the same dtype CLASS per column, not just equal
    Python values after int(35486) == float(35486.0) coercion."""
    dt = s.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "ts"  # unit (ns vs us) is canonicalized by _canon_cell
    return "obj"


def compare(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> tuple[str, str]:
    sc, dc = sorted(spark_pd.columns), sorted(duck_pd.columns)
    if sc != dc:
        return "FAIL", f"columns differ: spark={sc} duck={dc}"
    bad_dt = [
        (c, str(spark_pd[c].dtype), str(duck_pd[c].dtype))
        for c in sc
        if _dtype_class(spark_pd[c]) != _dtype_class(duck_pd[c])
    ]
    if bad_dt:
        return "FAIL", f"dtype class differs (driver hash hazard): {bad_dt}"
    if len(spark_pd) != len(duck_pd):
        return "FAIL", f"row count differs: spark={len(spark_pd)} duck={len(duck_pd)}"
    a, b = canonize(spark_pd), canonize(duck_pd)
    if a == b:
        return "EXACT", f"{len(a)} rows"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    if all(_near(x, y) for x, y in mismatches):
        return "NEAR", f"{len(mismatches)}/{len(a)} rows differ only in float low bits"
    bad = [(x, y) for x, y in mismatches if not _near(x, y)]
    # Pairwise zip can misalign when two floats straddle a _sort_key
    # quantization boundary (round-2 ADVICE): before declaring FAIL, try
    # a greedy tolerance-aware multiset re-alignment of the leftovers.
    if _align_near([x for x, _ in bad], [y for _, y in bad]):
        return "NEAR", f"{len(mismatches)}/{len(a)} rows matched after multiset re-alignment"
    return "FAIL", f"{len(bad)}/{len(a)} rows mismatch; first: spark={bad[0][0]!r} duck={bad[0][1]!r}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--plain",
        action="store_true",
        help="use a BARE SparkSession (no engine confs) — mimics the "
        "external verify driver's own session, so a pass here proves "
        "no result depends on cobradb_spark.session tuning",
    )
    ap.add_argument(
        "--window",
        action="store_true",
        help="check exactly the driver window (_DRIVER_PRIORITY)",
    )
    args = ap.parse_args()

    qs = registry.all_queries()
    names = args.names or sorted(qs)
    if args.window:
        names = list(registry._DRIVER_PRIORITY)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    if args.plain:
        from pyspark.sql import SparkSession

        # r9 ADVICE: builder.getOrCreate() silently REUSES any active
        # session with its confs, which would hollow out the "bare
        # session" proof this flag exists to provide — refuse instead.
        # r10 ADVICE: getActiveSession() is thread-local, so ALSO check
        # the process-wide SparkContext (what getOrCreate() actually
        # reuses when this thread has no active session; PySpark has no
        # public getDefaultSession, unlike Scala).
        from pyspark import SparkContext

        active = (
            SparkSession.getActiveSession()
            or SparkContext._active_spark_context
        )
        if active is not None:
            print(
                "--plain requires no active SparkSession (found one; its "
                "confs would leak into the 'bare session' proof)",
                file=sys.stderr,
            )
            return 2
        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check_plain")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check")
    con = duck_connect(args.sf)
    n_fail = 0
    for name in names:
        q = qs[name]
        rec = run(spark, name, args.sf, sink="pandas")
        if rec.error:
            print(f"[FAIL ] {name}: spark raised\n{rec.error}")
            n_fail += 1
            continue
        sdf = rec.frame
        if q.oracle is None:
            print(f"[ROWS ] {name}: {len(sdf)} rows ({rec.total_s:.1f}s, no oracle)")
            continue
        # Driver-parity guard: the driver's pandas canonicalizer cannot
        # hash array/map/struct cells, so any oracle-carrying query that
        # ships a non-scalar output column is a guaranteed driver ERR
        # even when values match locally (this harness tuple-izes arrays;
        # the driver does not).  Local green must imply driver green.
        bad_cols = [
            f.name for f in rec.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if bad_cols:
            print(
                f"[FAIL ] {name}: non-scalar output columns {bad_cols} — "
                "driver canonicalizer cannot hash these; project "
                "to_json/concat_ws instead"
            )
            n_fail += 1
            continue
        try:
            ddf = con.execute(q.oracle).df()
        except Exception:
            print(f"[FAIL ] {name}: duckdb oracle raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        status, msg = compare(sdf, ddf)
        tag = {"EXACT": "OK   ", "NEAR": "NEAR ", "FAIL": "FAIL "}[status]
        if status == "FAIL":
            n_fail += 1
        print(f"[{tag}] {name}: {msg} ({rec.total_s:.1f}s)")
    print(f"\n{len(names)} checked, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
