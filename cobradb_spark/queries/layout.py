"""Data-layout planning operators: Z-order clustering and range
partition planning.

At 100 TB the dominant cost is usually the scan, and the scan is only
cheap if file-level zone maps (min/max per column chunk) let the engine
skip data.  These operators compute the layout: a Morton (Z-order)
key that co-clusters two dimensions so BOTH benefit from skipping, and
an ntile-based range plan that yields equal-height partition boundaries
for sorted writes.  Design rationale [P]: public cobradb has no layout
engine — this is the lakehouse zone-map discipline (Delta/Iceberg
OPTIMIZE ZORDER BY) re-derived for the testdata schema.

The third storage-layout lever — bucketBy(k, key) catalog tables that
turn every repeat join+agg on the key into a ZERO-Exchange plan — is
demonstrated by `join_bucketed_colocated` (queries/joins.py), with the
no-Exchange/no-Sort assertion in tools/plan_audit.py and
tests/test_scale_patterns.py::test_bucketed_join_avoids_shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.operators.rank import global_ntile, global_rank
from cobradb_spark.registry import register

_BITS = 16
_ROWS_PER_FILE = 1000


def _z_spark(x, y):
    """Interleave the low 16 bits of x (even positions) and y (odd)."""
    z = F.lit(0).cast("long")
    for b in range(_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def _z_duck(x: str, y: str) -> str:
    terms = []
    for b in range(_BITS):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


@register(
    "etl_zorder_layout",
    oracle=f"""
WITH keyed AS (
  SELECT event_id, user_id,
         CAST(date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts)) AS BIGINT) AS d,
         {_z_duck("user_id", "CAST(date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts)) AS BIGINT)")} AS z
  FROM events
), filed AS (
  SELECT *, CAST((row_number() OVER (ORDER BY z, event_id) - 1) // {_ROWS_PER_FILE} AS BIGINT) AS file_id
  FROM keyed
)
SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       min(user_id) AS u_min, max(user_id) AS u_max,
       min(d) AS d_min, max(d) AS d_max
FROM filed GROUP BY file_id
""",
    doc="Z-order layout job: Morton-interleave (user_id, day) into a 32-bit "
    "z-key, sort, cut into fixed-size files, and report each file's zone map "
    "(min/max of BOTH dimensions). Tight spans on both axes are exactly what "
    "lets a 100 TB scan skip files for either a user- or a time-predicate — "
    "one clustered layout serves two query families. The global row_number "
    "uses operators/rank.py global_rank (repartitionByRange + offset "
    "prefix-sum) — NO single-partition window, so the sort scales out "
    "exactly like the production write path (repartitionByRange(z) + "
    "per-task file cuts).",
)
def etl_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = (
        (
            F.date_trunc("day", "ts").cast("timestamp").cast("long")
            - F.lit("2024-01-01").cast("timestamp").cast("long")
        )
        / 86400
    ).cast("long")
    keyed = e.select(
        "event_id",
        "user_id",
        d.alias("d"),
        _z_spark(F.col("user_id"), d).alias("z"),
    )
    ranked = global_rank(keyed, [F.col("z"), F.col("event_id")], rank_col="rn")
    filed = ranked.withColumn(
        "file_id", ((F.col("rn") - 1) / _ROWS_PER_FILE).cast("long")
    )
    return filed.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
        F.min("d").alias("d_min"),
        F.max("d").alias("d_max"),
    )


@register(
    "etl_range_partition_plan",
    oracle="""
WITH t AS (
  SELECT o_totalprice, o_orderkey,
         ntile(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 6) AS lo, round(max(o_totalprice), 6) AS hi
FROM t GROUP BY bucket
""",
    doc="Range partition plan: equal-height boundaries for o_totalprice via "
    "ntile(16) (unique o_orderkey tiebreak so both engines split ties "
    "identically). The [lo, hi] per bucket is the boundary list a sorted "
    "writer (repartitionByRange + sortWithinPartitions) uses so row groups "
    "are disjoint and every range predicate prunes to ~1/16 of the files. "
    "Production derives the same plan from a sample; the fixture computes "
    "it exactly to keep the oracle bit-stable. ntile is DERIVED from the "
    "distributed global rank (operators/rank.py global_ntile) and the row "
    "count that rides on every ranked row — first N%16 buckets get the "
    "extra row, matching SQL ntile exactly — so the ranked rows are "
    "aggregated once and no single-partition window or count is in the "
    "plan.",
)
def etl_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    return (
        global_ntile(o, [F.col("o_totalprice"), F.col("o_orderkey")], 16, "bucket")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
        )
    )


@register(
    "profile_zone_maps",
    oracle="""
SELECT date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(user_id) AS u_min, max(user_id) AS u_max,
       CAST(count(DISTINCT user_id) AS BIGINT) AS u_ndv,
       round(min(value), 6) AS v_min, round(max(value), 6) AS v_max
FROM events GROUP BY 1
""",
    doc="Zone-map / statistics collection pass (the ANALYZE step a lakehouse "
    "runs after ingest): per day-partition min/max/NDV for the skipping and "
    "CBO columns. min/max feed file skipping; NDV feeds join-order and "
    "broadcast decisions. One partial+final aggregate over the natural "
    "partition key — at 100 TB this is the cheap metadata pass that makes "
    "every later scan cheaper. Exact countDistinct here (small per-day key "
    "space); the HLL-sketch variant for wide keys is agg_hll_sketch_merge.",
)
def profile_zone_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_rows"),
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
        F.countDistinct("user_id").alias("u_ndv"),
        F.round(F.min("value"), 6).alias("v_min"),
        F.round(F.max("value"), 6).alias("v_max"),
    )


@register(
    "profile_column_histogram",
    oracle="""
WITH s AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
b AS (
  SELECT CAST(least(floor((o.o_totalprice - s.lo) / ((s.hi - s.lo) / 20)), 19)
              AS BIGINT) AS bucket,
         s.lo AS lo, s.hi AS hi
  FROM orders o, s
)
SELECT bucket,
       round(lo + bucket * ((hi - lo) / 20), 6) AS bucket_lo,
       round(lo + (bucket + 1) * ((hi - lo) / 20), 6) AS bucket_hi,
       CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY bucket, lo, hi
""",
    doc="Equi-width 20-bucket histogram of a numeric column — the "
    "profiling primitive behind data-drift dashboards and partition-size "
    "planning. Two passes, both scan-bound: a 1-row min/max aggregate "
    "broadcast back into the bucketing expression (identical float "
    "arithmetic on both engines — bucket = floor((x - lo) / width), top "
    "edge clamped into the last bucket), then a partial+final count per "
    "bucket. At 100 TB the bucket count is fixed, so the second "
    "aggregate's shuffle is 20 rows per partition regardless of data.",
    tags=("layout", "profiling"),
)
def profile_column_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mm = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width), F.lit(19)
    ).cast("long")
    return (
        o.crossJoin(F.broadcast(mm))
        .select(bucket.alias("bucket"), "lo", "hi")
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            F.round(F.col("lo") + F.col("bucket") * width, 6).alias("bucket_lo"),
            F.round(F.col("lo") + (F.col("bucket") + 1) * width, 6).alias("bucket_hi"),
            "n",
        )
    )


# Benford first-digit expectations log10(1+1/d), hardcoded as integer ppm
# so NO engine evaluates a logarithm (ln/log10 are not correctly-rounded
# cross-engine); both sides share these constants verbatim.
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)
_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d + 1} THEN {p}" for d, p in enumerate(_BENFORD_PPM)
) + " END"


@register(
    "profile_benford_deviation",
    oracle=f"""
WITH src AS (
  SELECT 'l_extendedprice' AS metric,
         CAST(substr(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM lineitem
  UNION ALL
  SELECT 'o_totalprice',
         CAST(substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders),
g AS (SELECT metric, digit, CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1, 2),
t AS (SELECT metric, CAST(sum(n) AS BIGINT) AS total FROM g GROUP BY metric)
SELECT metric, digit, n,
       CAST(n * 1000000 // total AS BIGINT) AS obs_ppm,
       CAST({_BENFORD_SQL_CASE} AS BIGINT) AS exp_ppm,
       CAST(abs(n * 1000000 // total - {_BENFORD_SQL_CASE}) AS BIGINT) AS abs_dev_ppm
FROM g JOIN t USING (metric)
""",
    doc="Benford first-significant-digit profiling (the fraud/data-quality "
    "screen auditors run on financial columns): first digit of the exact "
    "integer cents of l_extendedprice and o_totalprice, observed "
    "frequency as truncating-division ppm, against the published Benford "
    "expectation log10(1+1/d) — hardcoded as shared integer-ppm "
    "constants so neither engine evaluates a logarithm (ln/log10 are "
    "not correctly-rounded cross-engine, the profile_corpus_report "
    "lesson).  TPC-H prices are uniform-ish, so the deviations are "
    "LARGE — which is precisely what the screen reports: synthetic data "
    "fails Benford, and the abs_dev_ppm column quantifies it per digit. "
    "Scale posture: digit extraction is a narrow map (string head of a "
    "BIGINT — engine-identical), then one 18-group partial agg; the "
    "2-row totals broadcast back.  Entirely JVM-side, no Python.",
    tags=("profile",),
)
def profile_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.lit("l_extendedprice").alias("metric"),
        F.substring(
            (F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")).cast(
                "string"
            ),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.lit("o_totalprice").alias("metric"),
        F.substring(
            (F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")).cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit"),
    )
    g = o.unionByName(li).groupBy("metric", "digit").agg(
        F.count("*").cast("bigint").alias("n")
    )
    t = g.groupBy("metric").agg(F.sum("n").cast("bigint").alias("total"))
    exp_ppm = F.coalesce(
        *[
            F.when(F.col("digit") == d + 1, F.lit(p))
            for d, p in enumerate(_BENFORD_PPM)
        ]
    ).cast("bigint")
    obs_ppm = F.expr("div(n * 1000000, total)")
    return (
        g.join(F.broadcast(t), "metric")
        .select(
            "metric",
            "digit",
            "n",
            obs_ppm.alias("obs_ppm"),
            exp_ppm.alias("exp_ppm"),
            F.abs(obs_ppm - exp_ppm).cast("bigint").alias("abs_dev_ppm"),
        )
    )
