"""§2 D — aggregations.

Reference grounding [P]: cobradb/models.py::ModelCount precomputes
per-model reaction/metabolite/gene counts; loaders count/min/max
throughout; synonyms are aggregated per entity for matching.

Scale notes: every groupBy here is a hash aggregate with map-side
partial aggregation (verified in plans — partial_ then final merge), so
shuffle volume is #groups, not #rows.  Floating-point outputs are
rounded at a declared precision in BOTH engine and oracle so the
value-hash is insensitive to summation order (SURVEY §5.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.registry import register


@register(
    "agg_basic",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    doc="D1 pricing-summary aggregate (ModelCount analog [P]): sum/avg/min/max/count "
    "per group — TPC-H Q1 shape, partial+final hash agg.",
)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_count_distinct",
    oracle="""
SELECT l_orderkey,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
FROM lineitem GROUP BY l_orderkey
""",
    doc="D2 exact distinct per group; ref: distinct metabolites per model [P]. Spark "
    "expands distinct aggs into a two-phase plan automatically.",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       true AS approx_within_5pct
FROM lineitem GROUP BY l_returnflag
""",
    doc="D3 HLL approximate distinct — the 100 TB sketch path (exact distinct of a "
    "high-cardinality key shuffles every value; HLL ships fixed-size sketches). "
    "Self-grading: the HLL estimate itself is engine-specific, so the query "
    "emits the exact count plus a deterministic |approx-exact|/exact <= 5% "
    "boolean; the oracle asserts the same exact counts and literal true, making "
    "the sketch's accuracy part of the value hash.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Both aggregates run over the DISTINCT (flag, partkey) pairs: the HLL
    # sketch is duplicate-insensitive (registers are max-of-hashes), so
    # approx_count_distinct over the deduped pairs builds the IDENTICAL
    # sketch it would over the raw rows, and the exact distinct count
    # degenerates to a plain count (null-skipping count("l_partkey") ==
    # countDistinct semantics).  Mixing countDistinct with a regular agg
    # in ONE groupBy made Catalyst plan TWO aggregation subtrees over TWO
    # lineitem scans joined back together (r15 measured: 3.1-3.3 s warm
    # vs 0.34 exact-only + 0.89 approx-only); this shape is one scan, one
    # map-side-deduped pair shuffle, no join — 0.96-0.99 s warm (3.3x),
    # values and schema byte-identical (guide §2.4: remove the duplicate
    # subtree instead of computing things twice).
    pairs = li.select("l_returnflag", "l_partkey").distinct()
    exact = F.count("l_partkey")
    return pairs.groupBy("l_returnflag").agg(
        exact.alias("exact_parts"),
        (
            F.abs(F.approx_count_distinct("l_partkey", rsd=0.01) - exact) / exact
            <= F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT coalesce(o_orderstatus, '(all)') AS status,
       coalesce(o_orderpriority, '(all)') AS priority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="D4 cube/grouping sets; ref: multi-granularity catalog counts (per-model, "
    "per-organism, global) [P]. One pass, Expand operator fans each row into its "
    "grouping combinations.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
            "total",
        )
    )


@register(
    "agg_having",
    oracle="""
SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS order_day,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY 1, 2
HAVING count(*) > 1
""",
    doc="D5 post-aggregation filter; ref: duplicate-hash groups HAVING count>1 — the "
    "dedup-detection query shape [P].",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey", F.date_trunc("day", "o_orderdate").alias("order_day"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


@register(
    "agg_collect_synonyms",
    oracle="""
SELECT p_brand,
       array_to_string(array_agg(DISTINCT p_name ORDER BY p_name), '|') AS names,
       CAST(count(DISTINCT p_name) AS BIGINT) AS n_names
FROM part GROUP BY p_brand
""",
    doc="D6 collect per-entity synonym lists; ref: synonym table aggregated per entity "
    "for matching [P]. array_sort(collect_set(...)) — sorted for determinism "
    "(SURVEY §5.2). Driver-facing projection joins the list with '|': the driver's "
    "pandas canonicalizer cannot hash array cells (r3 ERR), and a delimited string "
    "states the same facts.",
)
def agg_collect_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.concat_ws("|", F.array_sort(F.collect_set("p_name"))).alias("names"),
        F.countDistinct("p_name").alias("n_names"),
    )


@register(
    "agg_stats",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(var_pop(l_discount), 6) AS var_disc,
       round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty
FROM lineitem GROUP BY l_returnflag
""",
    doc="D7 moment statistics for profiling numeric columns (charge/stoichiometry "
    "sanity checks [P]). skewness/kurtosis live in the rows-only variant of this op "
    "(tests) — engines disagree on the estimator.",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_pop("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
    )


@register(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p25,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p50,
       round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p75,
       round(median(l_quantity), 6) AS med_qty
FROM lineitem GROUP BY l_returnflag
""",
    doc="D8 distribution profiling: exact interpolated percentiles + median for the "
    "oracle; percentile_approx is the at-scale variant (sketch, no global sort) — "
    "asserted within tolerance in tests.",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias("p75"),
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
    )


@register(
    "agg_conditional",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
       round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS total_finished
FROM orders GROUP BY o_orderpriority
""",
    doc="D9 conditional aggregation in one pass; ref: count mapped vs unmapped genes "
    "in a single scan [P]. count_if / sum(when) — no second pass over the data.",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))), 2
        ).alias("total_finished"),
    )


@register(
    "agg_first_last_ordered",
    oracle="""
WITH ranked AS (
  SELECT c_nationkey, c_name, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey DESC) AS rn_max,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal ASC, c_custkey ASC) AS rn_min
  FROM customer
)
SELECT c_nationkey,
       max(CASE WHEN rn_max = 1 THEN c_name END) AS richest,
       max(CASE WHEN rn_min = 1 THEN c_name END) AS poorest
FROM ranked GROUP BY c_nationkey
""",
    doc="D10 ordered first/last pick; ref: canonical synonym selection by data_source "
    "priority [P]. max_by/min_by over a (value, unique-key) struct — the tiebreaker "
    "makes the pick deterministic across engines.",
)
def agg_first_last_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.expr("max_by(c_name, struct(c_acctbal, c_custkey))").alias("richest"),
        F.expr("min_by(c_name, struct(c_acctbal, c_custkey))").alias("poorest"),
    )


@register(
    "agg_stats_higher",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         avg(l_quantity) AS m1,
         avg(l_quantity * l_quantity) AS m2,
         avg(l_quantity * l_quantity * l_quantity) AS m3,
         avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4
  FROM lineitem GROUP BY l_returnflag
), c AS (
  SELECT l_returnflag,
         m2 - m1 * m1 AS c2,
         m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1 AS c3,
         m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1 AS c4
  FROM m
)
SELECT l_returnflag,
       round(c3 / pow(c2, 1.5), 6) AS skew_qty,
       round(c4 / (c2 * c2) - 3, 6) AS kurt_qty
FROM c
""",
    doc="D7b higher moments (skewness, kurtosis), hash-checked: Spark's "
    "built-ins are the biased population estimators m3/m2^1.5 and "
    "m4/m2^2 - 3, which the oracle reproduces from raw power sums via the "
    "central-moment expansion.  DuckDB's own skewness()/kurtosis() use a "
    "different bias correction — the explicit formulation sidesteps that.  "
    "Both sides round to 6 decimals, orders above the ~1e-10 cancellation "
    "noise of the power-sum path at this value range.",
)
def agg_stats_higher(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.skewness("l_quantity"), 6).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
    )


@register(
    "agg_argminmax",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big,
       bool_and(o_totalprice > 900) AS all_over_900,
       bool_or(o_orderstatus = 'F') AS any_finished,
       arg_max(o_custkey, o_orderkey) AS cust_of_latest,
       arg_min(o_custkey, o_orderkey) AS cust_of_earliest
FROM orders GROUP BY o_orderpriority
""",
    doc="D-ext conditional/selection aggregates: count_if, bool_and/bool_or, "
    "and max_by/min_by (arg_max/arg_min) keyed by the UNIQUE o_orderkey so "
    "both engines select the same row (arg extremes on non-unique keys are "
    "tie-broken differently across engines — never oracle those). All are "
    "single-pass partial+final aggregates.",
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 900).alias("all_over_900"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.max_by("o_custkey", "o_orderkey").alias("cust_of_latest"),
        F.min_by("o_custkey", "o_orderkey").alias("cust_of_earliest"),
    )


@register(
    "agg_weighted_stats",
    oracle="""
SELECT l_returnflag,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS wavg_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_weight
FROM lineitem GROUP BY l_returnflag
""",
    doc="D-ext weighted average (price weighted by quantity): both the "
    "weighted numerator and the weight sum accumulate as DECIMAL(18,2) "
    "products so the cross-engine totals are bit-exact before the one "
    "final double division. Single partial+final aggregate.",
)
def agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    num = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    ).cast("double")
    den = F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
    return li.groupBy("l_returnflag").agg(
        F.round(num / den, 6).alias("wavg_price"),
        F.round(den, 6).alias("total_weight"),
    )


@register(
    "agg_listagg_ordered",
    oracle="""
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
         AS statuses
FROM orders
GROUP BY o_orderpriority
""",
    doc="Ordered string aggregation via Spark 4 LISTAGG ... WITHIN GROUP "
    "(ORDER BY): the ANSI form of collect-and-join, with DISTINCT and a "
    "deterministic sort so the concatenation is reproducible across "
    "partitionings (an unordered listagg is nondeterministic at scale "
    "by construction). DuckDB oracles via string_agg(DISTINCT .. ORDER "
    "BY).",
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("cb_orders_la")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, '|')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS statuses
        FROM cb_orders_la
        GROUP BY o_orderpriority
        """
    )


@register(
    "agg_corr_matrix",
    oracle="""
WITH r AS (
  SELECT round(corr(l_quantity, l_extendedprice), 6) AS qp,
         round(corr(l_quantity, l_discount), 6) AS qd,
         round(corr(l_quantity, l_tax), 6) AS qt,
         round(corr(l_extendedprice, l_discount), 6) AS pd,
         round(corr(l_extendedprice, l_tax), 6) AS pt,
         round(corr(l_discount, l_tax), 6) AS dt
  FROM lineitem
)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, qp AS r FROM r
UNION ALL SELECT 'l_quantity', 'l_discount', qd FROM r
UNION ALL SELECT 'l_quantity', 'l_tax', qt FROM r
UNION ALL SELECT 'l_extendedprice', 'l_discount', pd FROM r
UNION ALL SELECT 'l_extendedprice', 'l_tax', pt FROM r
UNION ALL SELECT 'l_discount', 'l_tax', dt FROM r
""",
    doc="Pairwise Pearson correlation matrix over the four lineitem measures "
    "in ONE scan: all six co-moment aggregates compute in a single "
    "partial+final pass (no per-pair rescans, no driver loop), then the "
    "1-row result unpivots to tidy (col_a, col_b, r) form. The feature-"
    "redundancy screen a training pipeline runs before model prep; at "
    "100 TB it stays a single map-combine aggregation regardless of width.",
    tags=("aggregates",),
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"),
        ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    r = li.agg(
        *[F.round(F.corr(a, b), 6).alias(f"c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs)
    )
    return r.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, r)")
    )


@register(
    "agg_mode",
    oracle="""
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY n DESC, o_orderpriority) AS rn
  FROM counts
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM ranked WHERE rn = 1
""",
    doc="Exact per-group mode with a DETERMINISTIC tie-break (highest count, "
    "then lowest value) — built-in mode() leaves ties engine-defined, which "
    "can never pass a cross-engine hash gate, so the portable formulation "
    "is count -> windowed argmax. Two partial+final aggregations over the "
    "tiny (group, value) grid; raw rows shuffle once.",
    tags=("aggregates",),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@register(
    "agg_skew_salted_distinct",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
    doc="D-ext skew-salted two-phase distinct count — the scale pattern "
    "for COUNT(DISTINCT) over a handful of hot group keys (event_type "
    "here: few values, millions of rows each at 100 TB, so a direct "
    "per-key distinct funnels each hot key through one reducer). Phase "
    "1 groups by (key, salt = hash(user) % 32) and distinct-counts "
    "within each salt bucket — a user lands in exactly ONE bucket per "
    "key, so buckets partition the distinct set and the hot key's work "
    "spreads over 32 reducers; phase 2 SUMS the per-bucket distinct "
    "counts (no overlap, plain addition — not another distinct). "
    "Exactness does not depend on the hash quality, only on "
    "determinism. The oracle is the direct one-phase distinct.",
    tags=("aggregates", "scale-pattern"),
)
def agg_skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    phase1 = (
        ev.select(
            "event_type",
            "user_id",
            F.pmod(F.xxhash64("user_id"), F.lit(32)).alias("_salt"),
        )
        .groupBy("event_type", "_salt")
        .agg(F.count_distinct("user_id").alias("d"))
    )
    return phase1.groupBy("event_type").agg(
        F.sum("d").cast("long").alias("n_users")
    )


_QUANTILES = (0.5, 0.9, 0.99, 0.999)


@register(
    "agg_quantile_exact_global",
    oracle=f"""
WITH v AS (
  SELECT l_extendedprice AS x,
         row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                            l_linenumber) AS rn
  FROM lineitem
), nn AS (SELECT count(*) AS n FROM lineitem),
qs(q) AS (VALUES {", ".join(f"(CAST({q} AS DOUBLE))" for q in _QUANTILES)}),
t AS (
  SELECT q,
         CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS lo,
         q * (n - 1) - floor(q * (n - 1)) AS f
  FROM qs, nn
), sel AS (
  SELECT t.q, t.f, a.x AS xlo, b.x AS xhi
  FROM t JOIN v a ON a.rn = t.lo
       LEFT JOIN v b ON b.rn = t.lo + 1
), res AS (
  SELECT q, xlo + f * (coalesce(xhi, xlo) - xlo) AS val FROM sel
)
SELECT CAST(nn.n AS BIGINT) AS n_rows,
       {", ".join(f"max(CASE WHEN q = CAST({q} AS DOUBLE) THEN val END) AS p{str(q)[2:]}" for q in _QUANTILES)}
FROM res, nn GROUP BY nn.n
""",
    doc="Exact GLOBAL quantiles (p5/p9/p99/p999 of l_extendedprice) by "
    "distributed rank selection — the scale complement to the per-group "
    "agg_percentiles: a global exact quantile normally needs a full "
    "sort into one task or a per-group collect; here the distributed "
    "row_number closed form (operators/rank.py: repartitionByRange + "
    "per-partition offsets) ranks the world in parallel, only the <=8 "
    "rows at the target ranks are fetched, and the linear interpolation "
    "runs on those. Both engines evaluate the IDENTICAL explicit "
    "formula xlo + f*(xhi - xlo) with f = q*(n-1) - floor(q*(n-1)) "
    "(percentile_cont's internal association is not pinned by the "
    "standard, so the oracle avoids it). At 100 TB: one range shuffle + "
    "a K-row fetch, versus the single-partition-sort cliff.",
    tags=("agg",),
)
def agg_quantile_exact_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from cobradb_spark.operators.rank import global_rank_with_total

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x"), "l_orderkey", "l_linenumber"
    )
    ranked, n = global_rank_with_total(
        li, [F.col("x"), F.col("l_orderkey"), F.col("l_linenumber")], "rn"
    )
    targets = {}
    need = set()
    for q in _QUANTILES:
        lo = math.floor(q * (n - 1)) + 1
        f = q * (n - 1) - math.floor(q * (n - 1))
        targets[q] = (lo, f)
        need.add(lo)
        if lo + 1 <= n:
            need.add(lo + 1)
    got = {
        r["rn"]: r["x"]
        for r in ranked.filter(F.col("rn").isin(sorted(need)))
        .select("rn", "x")
        .collect()  # bounded: at most 2 * len(_QUANTILES) rows
    }
    out = {}
    for q, (lo, f) in targets.items():
        xlo = got[lo]
        xhi = got.get(lo + 1, xlo)
        out[q] = xlo + f * (xhi - xlo)
    row = [int(n)] + [out[q] for q in _QUANTILES]
    cols = ["n_rows"] + [f"p{str(q)[2:]}" for q in _QUANTILES]
    return spark.createDataFrame(
        [tuple(row)],
        schema=", ".join(
            [f"{cols[0]} long"] + [f"{c} double" for c in cols[1:]]
        ),
    )


@register(
    "agg_median_exact_pergroup",
    oracle="""
WITH v AS (
  SELECT l_returnflag || '/' || l_linestatus AS grp, l_extendedprice AS x,
         row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                            ORDER BY l_extendedprice, l_orderkey,
                            l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS n
  FROM lineitem
)
SELECT grp, CAST(max(n) AS BIGINT) AS n_rows, sum(x) / count(*) AS median
FROM v WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
GROUP BY grp ORDER BY grp
""",
    doc="Exact PER-GROUP median (l_extendedprice by returnflag/linestatus) "
    "via distributed rank selection — the per-group companion of "
    "agg_quantile_exact_global, and the aggregation approx_percentile "
    "users reach for when the tolerance must be zero.  The middle ranks "
    "(n+1)//2 and n//2+1 coincide for odd n (one selected row) and "
    "bracket the midpoint for even n (two rows); median = sum/count "
    "over the selected rows, which is float-deterministic because a "
    "sum of at most TWO doubles has no association order (IEEE addition "
    "is commutative) — no percentile_cont, whose interpolation "
    "association the SQL standard leaves open.  The total order "
    "(value, orderkey, linenumber) is fully deterministic, so both "
    "engines select identical rows.  Scale: ONE hash shuffle on the "
    "group key serves the rank window, the count window, and the final "
    "rollup (superset-key reuse, the sessionize discipline); <= 2 rows "
    "per group survive the filter before the |groups|-row aggregate — "
    "fact volume never reaches the final stage.",
    tags=("aggregates",),
)
def agg_median_exact_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wg = Window.partitionBy("l_returnflag", "l_linestatus")
    v = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_extendedprice").alias("x"),
        F.row_number()
        .over(wg.orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
        .alias("rn"),
        F.count("*").over(wg).alias("n"),
    )
    sel = v.filter(
        (F.col("rn") == F.expr("div(n + 1, 2)"))
        | (F.col("rn") == F.expr("div(n, 2) + 1"))
    )
    # group by the WINDOW's own key columns (not the derived grp string)
    # so the rollup reuses the window shuffle; grp is re-derived after
    return (
        sel.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            (F.sum("x") / F.count("*")).alias("median"),
        )
        .select(
            F.concat_ws("/", "l_returnflag", "l_linestatus").alias("grp"),
            "n_rows",
            "median",
        )
        .orderBy("grp")
    )


@register(
    "agg_tukey_fences",
    oracle="""
WITH q AS (
  SELECT o_orderpriority,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS q1,
         percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS q3
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       round(q.q1, 6) AS q1, round(q.q3, 6) AS q3,
       CAST(count(*) FILTER (WHERE o.o_totalprice
                             < q.q1 - 1.5 * (q.q3 - q.q1)) AS BIGINT)
         AS n_low_outliers,
       CAST(count(*) FILTER (WHERE o.o_totalprice
                             > q.q3 + 1.5 * (q.q3 - q.q1)) AS BIGINT)
         AS n_high_outliers,
       CAST(count(*) AS BIGINT) AS n_rows
FROM orders o JOIN q USING (o_orderpriority)
GROUP BY o.o_orderpriority, q.q1, q.q3
""",
    doc="Tukey boxplot fences per group — the IQR outlier rule "
    "(x < Q1 - 1.5*IQR or x > Q3 + 1.5*IQR) behind every boxplot and "
    "most data-quality range checks; complements the z-score (moment-"
    "based), MAD (robust global) and Hampel (rolling) detectors with "
    "the quartile-based batch variant. Two-pass: tiny per-group "
    "quartiles broadcast back over the facts for the fence counts. "
    "Exactness: interpolated quartiles over integer-valued doubles "
    "are engine-identical (agg_percentiles precedent); the fence "
    "comparison is double arithmetic on identical operand trees. "
    "Scale: pass 1 is a 5-row aggregate, pass 2 one fact scan with "
    "a broadcast join — no window over raw facts.",
    tags=("aggregates",),
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    q = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    j = o.join(F.broadcast(q), "o_orderpriority")
    iqr = F.col("q3") - F.col("q1")
    return j.groupBy("o_orderpriority", "q1", "q3").agg(
        F.count_if(F.col("o_totalprice") < F.col("q1") - 1.5 * iqr)
        .cast("bigint")
        .alias("n_low_outliers"),
        F.count_if(F.col("o_totalprice") > F.col("q3") + 1.5 * iqr)
        .cast("bigint")
        .alias("n_high_outliers"),
        F.count("*").cast("bigint").alias("n_rows"),
    ).select(
        "o_orderpriority",
        F.round("q1", 6).alias("q1"),
        F.round("q3", 6).alias("q3"),
        "n_low_outliers",
        "n_high_outliers",
        "n_rows",
    )


@register(
    "agg_gini_spend",
    oracle="""
WITH pc AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), r AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, cust) AS BIGINT) AS rk
  FROM pc
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         sum(CAST(rk AS HUGEINT) * cents) AS rs
  FROM r
)
SELECT n, s AS total_cents,
       CAST((2 * rs * 1000000 - (CAST(n AS HUGEINT) + 1) * s * 1000000)
            // (CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_ppm
FROM m
""",
    doc="Gini coefficient of customer spend — the inequality summary "
    "(how concentrated is revenue across customers) via the rank "
    "formulation G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over "
    "spend-sorted customers. Exactness: cents and ranks are exact "
    "integers, the weighted sum accumulates 128-bit, and the "
    "coefficient lands as one truncating division in ppm — no float "
    "anywhere. sum(rank*x) is linear in the rank, so rs = dot + "
    "sum(cents) with dot = sum(cents * customers before) from "
    "operators/rank.py prefix_dot over the total order (cents, cust): "
    "an in-bucket window per cents >> 16 plus one offset window over "
    "the bucket table, never an Exchange SinglePartition over "
    "customers and no driver action while the frame is built. Scale: "
    "one custkey partial-agg shuffle + one bucket shuffle + a 1-row "
    "moment rollup.",
    tags=("aggregates",),
)
def agg_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_dot

    o = load_table(spark, sf_dir, "orders")
    pc = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum((F.col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("bigint")
        .alias("cents"),
        F.lit(1).cast("bigint").alias("one"),
    )
    # sum(rk * cents) with rk = 1 + customers before = dot + sum(cents)
    m = prefix_dot(
        pc, [], ["cents", "cust"], c="one", w="cents", sums=("one", "cents")
    ).select(
        F.col("one").alias("n"),
        F.col("cents").alias("s"),
        (F.col("dot") + F.col("cents")).alias("rs"),
    )
    return m.select(
        "n",
        F.col("s").alias("total_cents"),
        F.expr(
            "CAST(div(2 * rs * 1000000"
            " - (CAST(n AS DECIMAL(38,0)) + 1) * s * 1000000,"
            " CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@register(
    "agg_gini_impurity_category",
    oracle="""
WITH c AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
         CAST(count(*) AS BIGINT) AS n
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), t AS (
  SELECT seg, CAST(sum(n) AS BIGINT) AS tot,
         CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sq
  FROM c GROUP BY seg
)
SELECT seg, tot AS n_orders,
       CAST(1000000 - sq * 1000000 // (CAST(tot AS HUGEINT) * tot)
            AS BIGINT) AS gini_impurity_ppm
FROM t
""",
    doc="Gini impurity of the order-priority mix per market segment — "
    "the diversity/mixing measure 1 - sum(p_i^2), the split criterion "
    "decision trees use and the categorical-concentration summary "
    "dashboards want. Chosen over Shannon entropy DELIBERATELY: "
    "entropy needs ln(), which is libm (not IEEE-correctly-rounded, "
    "engines can differ in the last bits), while the impurity is a "
    "pure rational — 1e6 - sum(n_i^2)*1e6/tot^2 in exact 128-bit "
    "integer arithmetic, truncating division identical both engines. "
    "Scale: one (seg, prio) partial-agg rollup over a broadcast dim "
    "join; the impurity computes on the 25-cell collapsed grid.",
    tags=("aggregates",),
)
def agg_gini_impurity_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    c = (
        o.join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    t = c.groupBy("seg").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.sum(F.col("n").cast("decimal(19,0)") * F.col("n")).alias("sq"),
    )
    return t.select(
        "seg",
        F.col("tot").alias("n_orders"),
        F.expr(
            "CAST(1000000 - div(sq * 1000000,"
            " CAST(tot AS DECIMAL(38,0)) * tot) AS BIGINT)"
        ).alias("gini_impurity_ppm"),
    )


@register(
    "agg_weighted_median_exact",
    oracle="""
WITH g AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT flag, cents, w,
         CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents) AS BIGINT)
           AS cum,
         CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
  FROM g
)
SELECT flag, tot AS total_qty,
       CAST(min(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT)
         AS weighted_median_cents
FROM c GROUP BY flag, tot
""",
    doc="Exact quantity-weighted median price per return flag (the "
    "lower weighted median: smallest price whose cumulative quantity "
    "reaches half the total — the 'typical traded price' robust to "
    "both price and volume outliers, which the unweighted median and "
    "the mean both miss). Quantization is floor(x*100.0 + 0.5) on BOTH "
    "engines (identical double math), then everything downstream is "
    "integer-exact: BIGINT weight sums, the crossing test as "
    "2*cum >= tot. Scale posture: values "
    "first collapse to the (flag, cents) weight grid (one partial-agg "
    "shuffle); the per-flag cumulative weight and total then come from "
    "operators/rank.py prefix_sums (one range partition over the "
    "(flag, cents) order, one driver collect of per-(partition, flag) "
    "sums) — NOT a per-flag running window, whose parallelism would be "
    "|flags| = 3 tasks over a grid that grows with data (the "
    "win_rolling_ols lesson).",
    tags=("aggregates",),
)
def agg_weighted_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        # floor(x*100.0 + 0.5): the repo's cents convention on BOTH
        # engines (r7 ADVICE: DuckDB's CAST rounds-to-nearest while
        # Spark's cast truncates — ~5.6% of rows landed on different
        # cents keys; identical double math closes the latent mismatch)
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    c = prefix_sums(g, ["flag"], ["cents"], ["w"]).select(
        "flag",
        "cents",
        (F.col("w_before") + F.col("w")).alias("cum"),
        F.col("w_total").alias("tot"),
    )
    return c.groupBy("flag", F.col("tot").cast("bigint").alias("total_qty")).agg(
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents")))
        .cast("bigint")
        .alias("weighted_median_cents")
    )


@register(
    "agg_winsorized_trimmed_mean",
    oracle="""
WITH g AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT flag, cents, n,
         CAST(coalesce(sum(n) OVER (PARTITION BY flag ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_lo,
         CAST(sum(n) OVER (PARTITION BY flag) AS BIGINT) AS n_tot
  FROM g
), k AS (
  SELECT flag, cents, n, cum_lo, n_tot,
         n_tot * 5 // 100 AS k_lo, n_tot - n_tot * 5 // 100 AS k_hi
  FROM c
), pieces AS (
  SELECT flag, n_tot, k_lo, k_hi,
         sum(CAST(cents AS HUGEINT)
             * greatest(0, least(cum_lo + n, k_hi) - greatest(cum_lo, k_lo)))
           AS trim_sum,
         min(CASE WHEN cum_lo + n >= k_lo + 1 THEN cents END) AS p5_cents,
         min(CASE WHEN cum_lo + n >= k_hi THEN cents END) AS p95_cents
  FROM k GROUP BY flag, n_tot, k_lo, k_hi
)
SELECT flag, n_tot AS n_rows,
       CAST(p5_cents AS BIGINT) AS p5_cents,
       CAST(p95_cents AS BIGINT) AS p95_cents,
       CAST(trim_sum * 1000 // (k_hi - k_lo) AS BIGINT)
         AS trimmed_mean_milli,
       CAST((trim_sum + CAST(k_lo AS HUGEINT) * p5_cents
             + CAST(n_tot - k_hi AS HUGEINT) * p95_cents) * 1000
            // n_tot AS BIGINT) AS winsor_mean_milli
FROM pieces
""",
    doc="Winsorized and trimmed means per return flag (the robust "
    "location pair every metrics pipeline needs next to the exact "
    "median): trim drops the bottom/top 5% by count, winsorize clamps "
    "them to the 5th/95th order statistics instead.  Both derive from "
    "ONE pass over the (flag, cents) weight grid: each grid cell "
    "occupies ranks (cum_lo, cum_lo+n], so its surviving multiplicity "
    "inside the trim window [k_lo, k_hi) is the exact integer "
    "clip max(0, min(cum_lo+n, k_hi) - max(cum_lo, k_lo)) — no "
    "per-row sort, no percentile approximation, and the order "
    "statistics p5/p95 fall out of the same cumulative frame as the "
    "first cell crossing each trim rank.  All arithmetic is 128-bit "
    "integer with declared milli-cent truncating division.  Scale "
    "posture: facts collapse once to the value grid (map-side "
    "combine); the per-flag cumulative frame and totals come from "
    "operators/rank.py prefix_sums (the agg_weighted_median_exact "
    "pattern); output is 3 rows.",
    tags=("aggregates",),
)
def agg_winsorized_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    k = prefix_sums(g, ["flag"], ["cents"], ["n"]).select(
        "flag",
        "cents",
        "n",
        F.col("n_before").alias("cum_lo"),
        F.col("n_total").alias("n_tot"),
    ).withColumn("k_lo", F.expr("n_tot * 5 div 100")).withColumn(
        "k_hi", F.expr("n_tot - n_tot * 5 div 100")
    )
    pieces = k.groupBy("flag", "n_tot", "k_lo", "k_hi").agg(
        F.sum(
            F.col("cents").cast("decimal(19,0)")
            * F.greatest(
                F.lit(0),
                F.least(F.col("cum_lo") + F.col("n"), F.col("k_hi"))
                - F.greatest(F.col("cum_lo"), F.col("k_lo")),
            )
        ).alias("trim_sum"),
        F.min(
            F.when(F.col("cum_lo") + F.col("n") >= F.col("k_lo") + 1, F.col("cents"))
        ).alias("p5_cents"),
        F.min(
            F.when(F.col("cum_lo") + F.col("n") >= F.col("k_hi"), F.col("cents"))
        ).alias("p95_cents"),
    )
    return pieces.select(
        "flag",
        F.col("n_tot").alias("n_rows"),
        F.col("p5_cents").cast("bigint").alias("p5_cents"),
        F.col("p95_cents").cast("bigint").alias("p95_cents"),
        F.expr(
            "CAST(div(trim_sum * 1000, k_hi - k_lo) AS BIGINT)"
        ).alias("trimmed_mean_milli"),
        F.expr(
            "CAST(div((trim_sum + CAST(k_lo AS DECIMAL(38,0)) * p5_cents"
            " + CAST(n_tot - k_hi AS DECIMAL(38,0)) * p95_cents) * 1000,"
            " n_tot) AS BIGINT)"
        ).alias("winsor_mean_milli"),
    )


@register(
    "agg_entropy_pergroup",
    oracle="""
WITH c AS (
  SELECT o_orderstatus AS grp, o_orderpriority AS v,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2),
t AS (SELECT grp, CAST(sum(n) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n_values
      FROM c GROUP BY grp)
SELECT c.grp AS grp, t.n_values, t.tot AS n_rows,
       round(sum(-(CAST(c.n AS DOUBLE) / t.tot)
                 * ln(CAST(c.n AS DOUBLE) / t.tot)), 9) AS entropy_nats,
       round(sum(-(CAST(c.n AS DOUBLE) / t.tot)
                 * ln(CAST(c.n AS DOUBLE) / t.tot)) / ln(CAST(t.n_values AS DOUBLE)),
             9) AS normalized_entropy
FROM c JOIN t USING (grp)
GROUP BY c.grp, t.n_values, t.tot
""",
    doc="Shannon entropy of the category distribution per group (order "
    "priority within order status) plus the 0-1 normalized variant "
    "(divided by ln(distinct values)) — the column-profiling signal "
    "for predictability/uniformity that the gini-impurity key "
    "(agg_gini_impurity_category) approximates polynomially; entropy "
    "is the information-theoretic exact version.  Float discipline: "
    "counts are exact integers; p*ln(p) terms are IEEE doubles from "
    "identical literal expressions, sums rounded at 1e-9 on both "
    "engines (the perplexity-family transcendental re-sync).  Scale "
    "posture: one (group, value) partial-agg fact pass; the entropy "
    "algebra runs on the KB-sized grid.",
    tags=("aggregates",),
)
def agg_entropy_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderstatus").alias("grp"),
        F.col("o_orderpriority").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    t = c.groupBy("grp").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("n_values"),
    )
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(F.broadcast(t), "grp")
        .groupBy("grp", "n_values", "tot")
        .agg(
            F.round(F.sum(-p * F.log(p)), 9).alias("entropy_nats"),
            F.round(
                F.sum(-p * F.log(p)) / F.log(F.col("n_values").cast("double")), 9
            ).alias("normalized_entropy"),
        )
        .select(
            "grp",
            "n_values",
            F.col("tot").alias("n_rows"),
            "entropy_nats",
            "normalized_entropy",
        )
    )
