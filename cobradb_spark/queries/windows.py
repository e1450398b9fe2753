"""§2 E — window functions.

The reference has no SQL windows [P] — PostgreSQL did that work for its
consumers; the catalog-serving layer needs them (top reactions per
model, canonical picks, running audits).

Determinism rule: every ORDER BY inside a window carries a unique
tiebreaker key so row_number/ntile assignments are stable across
engines (SURVEY §5.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.registry import register


@register(
    "win_rank_topk_pergroup",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
""",
    doc="E1 top-k per group — 'top reactions per model' analog. row_number/rank/"
    "dense_rank over a per-customer window; at scale this shuffles once on the "
    "partition key and sorts within partitions.",
)
def win_rank_topk_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_lag_lead",
    oracle="""
SELECT event_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
       lead(event_id) OVER w AS next_event
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    doc="E2 lag/lead inter-event deltas per user — the sessionization building block.",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return e.select(
        "event_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event"),
    )


@register(
    "win_running_frame",
    oracle="""
SELECT o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
       CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
FROM orders
""",
    doc="E3 running totals with a ROWS frame; fully-tiebroken ordering makes the "
    "float running sum deterministic across engines.",
)
def win_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        F.count("*").over(w).cast("long").alias("running_n"),
    )


@register(
    "win_range_frame",
    oracle="""
SELECT event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW), 6) AS trailing_30m
FROM events
""",
    doc="E4 RANGE frame on event time: 30-minute trailing sum per user (frame bound "
    "in microseconds over the epoch ordering column).",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-1_800_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        F.round(F.sum("value").over(w), 6).alias("trailing_30m"),
    )


@register(
    "win_ntile_pctrank",
    oracle="""
SELECT p_partkey,
       CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
       round(percent_rank() OVER w, 9) AS pr,
       round(cume_dist() OVER w, 9) AS cd
FROM part
WINDOW w AS (ORDER BY p_retailprice, p_partkey)
""",
    doc="E5 ntile/percent_rank/cume_dist price quartiles — computed WITHOUT the "
    "single-partition window Spark would plan for an unpartitioned ntile(): "
    "the unique (price, partkey) order makes rank == row_number, so all three "
    "are closed-form functions of the distributed global rank and the total "
    "count (operators/rank.py): ntile via the ceil bucket formula, "
    "pr = (rn-1)/(n-1), cd = rn/n.  One range exchange; survives 100 TB.",
)
def win_ntile_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import global_rank, ntile_expr

    p = load_table(spark, sf_dir, "part")
    order = [F.col("p_retailprice").asc(), F.col("p_partkey").asc()]
    rn, n = F.col("_rn"), F.col("_rn_n")
    return global_rank(p, order, "_rn").select(
        "p_partkey",
        ntile_expr(rn, n, 4).cast("long").alias("price_quartile"),
        F.round((rn - 1) / (n - 1), 9).alias("pr"),
        F.round(rn / n, 9).alias("cd"),
    )


@register(
    "win_nth_first_last",
    oracle="""
SELECT o_orderkey,
       first_value(o_orderkey) OVER w AS first_key,
       last_value(o_orderkey) OVER w AS last_key,
       nth_value(o_orderkey, 2) OVER w AS second_key
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    doc="E6 first/last/nth_value with an unbounded frame — canonical-pick analog "
    "(first synonym by priority) [P].",
)
def win_nth_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@register(
    "win_cume_dist",
    oracle="""
SELECT o_orderkey,
       round(cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey), 6) AS cd
FROM orders
""",
    doc="E-ext cumulative distribution per priority group (fully tiebroken "
    "by the unique key so both engines count the same peers). Same "
    "single-shuffle window shape as the rank family.",
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", F.round(F.cume_dist().over(w), 6).alias("cd")
    )


@register(
    "win_ewma_smooth",
    oracle="""
WITH lagged AS (
  SELECT event_id, user_id, ts, value,
         lag(value, 1) OVER win AS l1, lag(value, 2) OVER win AS l2,
         lag(value, 3) OVER win AS l3, lag(value, 4) OVER win AS l4
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, ts,
       round((value + coalesce(l1, 0.0) * 0.5 + coalesce(l2, 0.0) * 0.25
                    + coalesce(l3, 0.0) * 0.125 + coalesce(l4, 0.0) * 0.0625)
             / (1.0 + (CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 END)
                    + (CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 END)
                    + (CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 END)
                    + (CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.0625 END)),
             6) AS ewma
FROM lagged
""",
    doc="Exponentially-weighted moving average (decay 0.5, 5-tap truncated "
    "kernel, renormalized at series starts) of event value per user — the "
    "time-series smoother the reference's Postgres window layer would serve. "
    "Expressed as a fixed lag chain so the kernel is ONE window pass (one "
    "shuffle on user_id) with no per-row state; weights are exact binary "
    "powers of 1/2, so both engines compute bit-identical sums in the fixed "
    "left-associative order. The truncated kernel keeps the operator "
    "embarrassingly parallel — an unbounded recursive EWMA would serialize "
    "each partition; 5 taps of decay 0.5 bound the truncation error at 3%.",
)
def win_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", k).over(w) for k in (1, 2, 3, 4)]
    weights = [0.5, 0.25, 0.125, 0.0625]
    num = F.col("value")
    den = F.lit(1.0)
    for lk, wk in zip(lags, weights):
        num = num + F.coalesce(lk, F.lit(0.0)) * F.lit(wk)
        den = den + F.when(lk.isNull(), F.lit(0.0)).otherwise(F.lit(wk))
    return e.select(
        "event_id", "user_id", "ts", F.round(num / den, 6).alias("ewma")
    )


@register(
    "win_islands_ranges",
    oracle="""
WITH numbered AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS TIMESTAMP))
           - dense_rank() OVER (PARTITION BY user_id ORDER BY date_trunc('day', ts)) AS grp
  FROM events
)
SELECT user_id, min(day) AS island_start, max(day) AS island_end,
       CAST(count(DISTINCT day) AS BIGINT) AS n_days
FROM numbered GROUP BY user_id, grp
""",
    doc="Gaps-and-islands: maximal runs of CONSECUTIVE active days per user "
    "(streak detection — the calendar-granularity dual of 30-min "
    "sessionization). The classic constant-difference trick, dense_rank "
    "flavor: day-number minus dense_rank is invariant within a consecutive "
    "run EVEN with duplicate days, so no pre-dedup pass is needed — ONE "
    "user_id shuffle serves the numbering window AND the island rollup "
    "(the distinct-day count rides the same partitioning because user_id "
    "is a subset of the aggregate keys). A separate distinct would cost a "
    "second exchange on (user, day) — plan-audited EXCHANGES<=1 instead.",
    tags=("windows",),
)
def win_islands_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.date_trunc("day", "ts").alias("day"))
    w = Window.partitionBy("user_id").orderBy("day")
    numbered = days.withColumn(
        "grp",
        F.datediff("day", F.lit("1970-01-01")) - F.dense_rank().over(w),
    )
    return numbered.groupBy("user_id", "grp").agg(
        F.min("day").alias("island_start"),
        F.max("day").alias("island_end"),
        F.countDistinct("day").alias("n_days"),
    ).drop("grp")


@register(
    "win_running_distinct",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY event_type, ts, event_id)
                   IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, ts, event_id,
       CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS distinct_types_so_far
FROM flagged
""",
    doc="EXACT running COUNT(DISTINCT) — distinct event types seen per user "
    "as of each event. count(distinct) is not a window aggregate in either "
    "engine; the scalable formulation flags each (user, type)'s first "
    "occurrence, then running-sums the flags. The flag window sorts type-"
    "major inside each user (a type-block's first row IS its earliest "
    "occurrence), so BOTH windows partition by user_id alone and ONE "
    "exchange serves the whole query (two in-partition sorts, no second "
    "shuffle) — a (user, type)-keyed flag window would cost a second "
    "exchange. Plan-audited EXCHANGES<=1.",
    tags=("windows",),
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy("event_type", "ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = e.withColumn(
        "first_seen",
        F.when(
            ~F.lag("event_type").over(w_first).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    return flagged.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("first_seen").over(w_run).cast("long").alias("distinct_types_so_far"),
    )


_OLS_WIN = 50  # rolling-frame width (rows)
# rows per frame-window chunk of a series; a chunk's carry-in comes
# from the one chunk before it only while a chunk is at least as long
# as the carry
_OLS_CHUNK = 1 << 16
assert _OLS_CHUNK >= _OLS_WIN - 1


@register(
    "win_rolling_ols_slope",
    oracle=f"""
WITH pts AS (
  SELECT event_type, ts, event_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS x
  FROM events
), s AS (
  SELECT event_type, ts, event_id, x, y,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * x) OVER w AS sxx, sum(x * y) OVER w AS sxy
  FROM pts
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN {_OLS_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, event_id, CAST(x AS BIGINT) AS x, CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 AS slope,
       (CAST(sy AS DOUBLE) / 100.0
        - CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS intercept
FROM s WHERE n >= 2
""",
    doc=f"Rolling {_OLS_WIN}-row ordinary-least-squares trend per event "
    "series: slope and intercept of value vs observation index from the "
    "closed form (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2). Exactness design: value "
    "is quantized to BIGINT cents and x is the per-series row_number, so "
    "all four frame sums are exact integers — no float accumulation "
    "anywhere — and the one double division at the end is engine-"
    "identical (a raw double frame sum would differ: DuckDB aggregates "
    "frames via segment trees, Spark sequentially). Scale design (r6 "
    "verdict: a window PARTITIONed BY event_type alone funnels the "
    "stream into 5 tasks): x comes from the grouped operators/rank.py "
    "prefix_sums over (event_type; ts, event_id), and each series is "
    "CHUNKED by (x-1) div 2^16, a pure function of x.  The last "
    f"{_OLS_WIN - 1} rows of a chunk get one carry-in copy in the next "
    "chunk, so every rolling frame is complete INSIDE its (event_type, "
    "chunk) window partition; carry rows are dropped from the output. "
    "Parallelism grain = chunk x type, never the whole series: a frame-"
    f"window partition holds at most 2^16 + {_OLS_WIN - 1} rows.  The "
    "result is chunk-invariant and hash-identical to the single-window "
    "formulation the oracle keeps.",
    tags=("window", "timeseries"),
)
def win_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("y"),
        F.lit(1).cast("long").alias("x"),
    )
    # x = per-series row_number: the inclusive prefix count of a literal 1
    ranked = prefix_sums(e, ["event_type"], ["ts", "event_id"], ["x"]).withColumn(
        "x", F.col("x_before") + 1
    )
    # chunk = a pure function of x; the last _OLS_WIN-1 rows of a chunk
    # get one copy in the next chunk, whose first frames reach back to them
    tail = F.expr(f"(x - 1) % {_OLS_CHUNK}") >= _OLS_CHUNK - (_OLS_WIN - 1)
    pts = ranked.select(
        "event_type",
        "event_id",
        "x",
        "y",
        F.explode(F.sequence(F.lit(0), tail.cast("int"))).alias("_carry"),
    ).withColumn("_chunk", F.expr(f"(x - 1) div {_OLS_CHUNK}") + F.col("_carry"))
    wf = (
        Window.partitionBy("event_type", "_chunk")
        .orderBy("x")
        .rowsBetween(-(_OLS_WIN - 1), 0)
    )
    s = pts.select(
        "event_type",
        "event_id",
        "x",
        "y",
        "_carry",
        F.count("*").over(wf).alias("n"),
        F.sum("x").over(wf).alias("sx"),
        F.sum("y").over(wf).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(wf).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(wf).alias("sxy"),
    ).filter((F.col("_carry") == 0) & (F.col("n") >= 2))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den / F.lit(100.0)
    return s.select(
        "event_type",
        "event_id",
        F.col("x").cast("bigint").alias("x"),
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") / F.lit(100.0) - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
    )


_CORR_WIN = 24  # rolling frame (hours) over the aligned hourly pair series


@register(
    "win_rolling_corr",
    oracle=f"""
WITH g AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS cents
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2
), pair AS (
  SELECT v.hour, v.cents AS x, c.cents AS y
  FROM (SELECT hour, cents FROM g WHERE event_type = 'view') v
  JOIN (SELECT hour, cents FROM g WHERE event_type = 'click') c
    USING (hour)
), s AS (
  SELECT hour, x, y,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
         sum(x * y) OVER w AS sxy
  FROM pair
  WINDOW w AS (ORDER BY hour
               ROWS BETWEEN {_CORR_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT hour, CAST(n AS BIGINT) AS n,
       CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
            END AS rolling_corr
FROM s
""",
    doc=f"Rolling {_CORR_WIN}-observation Pearson correlation between "
    "the hourly view-value and click-value series — the co-movement "
    "monitor next to the rolling OLS trend. Same exactness discipline: "
    "both series quantize to BIGINT cents at the hourly grid (one "
    "partial-agg shuffle + one equi-join aligns them), all five frame "
    "sums are exact integers, and the closed form "
    "(n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2)) does ONE "
    "double division over a correctly-rounded sqrt — engine-identical "
    "with no rounding. Degenerate frames (n < 2 or zero variance) "
    "yield NULL rather than a fake value. The aligned pair grid is "
    "tiny; at 100 TB the cost is the grid reduction, and the series "
    "key generalizes to any (metric_a, metric_b) pair partition.",
    tags=("window", "timeseries"),
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
                "cents"
            )
        )
    )
    v = g.filter(F.col("event_type") == "view").select(
        "hour", F.col("cents").alias("x")
    )
    c = g.filter(F.col("event_type") == "click").select(
        F.col("hour").alias("h2"), F.col("cents").alias("y")
    )
    pair = v.join(c, v["hour"] == c["h2"]).select("hour", "x", "y")
    w = Window.orderBy("hour").rowsBetween(-(_CORR_WIN - 1), 0)
    s = pair.select(
        "hour",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return s.select(
        "hour",
        F.col("n").cast("bigint").alias("n"),
        F.when(
            (F.col("n") >= 2) & (vx > 0) & (vy > 0),
            num / F.sqrt(vx.cast("double") * vy.cast("double")),
        ).alias("rolling_corr"),
    )


@register(
    "win_max_drawdown",
    oracle="""
WITH flow AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('purchase', 'signup')
              THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
              ELSE -CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
         END AS delta_micros
  FROM events
), run AS (
  SELECT user_id, ts, event_id,
         sum(delta_micros) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS balance
  FROM flow
), bal AS (
  SELECT user_id, ts, event_id, balance,
         max(balance) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak
  FROM run
), dd AS (
  SELECT user_id, ts, event_id, balance, peak - balance AS drawdown,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY peak - balance DESC, ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events,
         last_value(balance) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING) AS final_micros
  FROM bal
)
SELECT user_id, CAST(drawdown AS BIGINT) AS max_dd_micros,
       epoch_us(ts) AS trough_us,
       CAST(final_micros AS BIGINT) AS final_micros,
       CAST(n_events AS BIGINT) AS n_events
FROM dd WHERE rn = 1
""",
    doc="Maximum drawdown per user over the signed engagement balance "
    "(purchase/signup credit value, click/view/error debit it): running "
    "balance, running peak, drawdown = peak - balance; each user "
    "reports the deepest drawdown, the timestamp of its (first) trough, "
    "the final balance, and event count.  The classic risk metric over "
    "a per-key ordered stream, exact because amounts quantize to BIGINT "
    "micros BEFORE any accumulation (floor(v*1e6+0.5) — identical "
    "double math both engines) so running sums are order-exact integer "
    "arithmetic and ties in the trough rank are impossible to "
    "mis-order (deterministic (dd DESC, ts, event_id) key).  "
    "CORRECTNESS_r07 root cause: DuckDB's windowed sum(BIGINT) is "
    "HUGEINT, which pandas renders as float64 — values matched but the "
    "driver's dtype-sensitive hash did not; every HUGEINT-derived "
    "output is now CAST AS BIGINT and the trough timestamp ships as "
    "epoch_us to keep the row all-integer.  Scale: "
    "ONE shuffle on user_id serves every window (running sum, running "
    "max-of-sum, rank, count — all share the partition key); no join, "
    "no global sort; at 100 TB per-user series are bounded and the "
    "partition count tracks users, the textbook windowed-analytics "
    "shape.",
    tags=("windows",),
)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    micros = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    flow = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type").isin("purchase", "signup"), micros)
        .otherwise(-micros)
        .alias("delta_micros"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    run = flow.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("delta_micros").over(w).alias("balance"),
    )
    bal = run.withColumn("peak", F.max("balance").over(w))
    dd = bal.select(
        "user_id",
        "ts",
        (F.col("peak") - F.col("balance")).alias("drawdown"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                (F.col("peak") - F.col("balance")).desc(), "ts", "event_id"
            )
        )
        .alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).cast("bigint").alias("n_events"),
        F.last("balance").over(wall).alias("final_micros"),
    )
    return dd.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("drawdown").alias("max_dd_micros"),
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("trough_us"),
        "final_micros",
        "n_events",
    )


# Hampel identifier: rolling median +/- k*1.4826*MAD, k=3, over a 7-row
# centered window per user.  All state is exact integers: cents double
# to half-cents so the 7-row median is integer-exact (median of ints is
# int-or-half), deviations double again so the MAD is integer-exact in
# quarter-cents, and the threshold 3*1.4826 = 44478/10000 applies by
# integer cross-multiplication.
_HAMPEL_SCALE = 44478  # 3 * 1.4826 * 10000


@register(
    "win_hampel_outliers",
    oracle=f"""
WITH s AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
), med AS (
  SELECT user_id, ts, event_id, cents,
         CAST(median(2 * cents) OVER w AS BIGINT) AS med2
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), dev AS (
  SELECT user_id, ts, event_id, cents, med2,
         abs(2 * cents - med2) AS dev2
  FROM med
), mad AS (
  SELECT user_id, ts, event_id, cents, med2, dev2,
         CAST(median(2 * dev2) OVER w AS BIGINT) AS mad4
  FROM dev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
)
SELECT user_id, event_id, ts, cents, med2, mad4
FROM mad
WHERE 2 * dev2 * 10000 > {_HAMPEL_SCALE} * mad4
""",
    doc="Hampel outlier identifier (rolling median +/- 3*1.4826*MAD, "
    "the robust local filter sensor pipelines run where global z-scores "
    "fail under level shifts — complements events_anomaly_zscore/mad, "
    "which are GLOBAL per-type detectors): per user, 7-row centered "
    "rolling median and rolling MAD over the cents-quantized value "
    "series, flagging points whose deviation exceeds the scaled MAD.  "
    "Exactness: half-cent doubling makes the integer-median exact, "
    "quarter-cent doubling makes the MAD exact, and the 1.4826 "
    "consistency constant applies as the integer ratio 44478/10000 by "
    "cross-multiplication — every value and comparison BIGINT, "
    "hash-exact cross-engine (both engines interpolate even-window "
    "medians identically, verified).  Scale: ONE user_id shuffle "
    "serves both window passes (identical partitioning+ordering — the "
    "second Window reuses the first's sort); windowed exact median "
    "over a 7-row frame is O(frame log frame) per row with bounded "
    "memory; no join anywhere.",
    tags=("windows",),
)
def win_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    med = s.withColumn(
        "med2", F.expr("percentile(2 * cents, 0.5)").over(w).cast("long")
    )
    dev = med.withColumn("dev2", F.abs(2 * F.col("cents") - F.col("med2")))
    mad = dev.withColumn(
        "mad4", F.expr("percentile(2 * dev2, 0.5)").over(w).cast("long")
    )
    return mad.filter(
        2 * F.col("dev2") * 10000 > F.lit(_HAMPEL_SCALE) * F.col("mad4")
    ).select("user_id", "event_id", "ts", "cents", "med2", "mad4")


_BOLL_WIN = 20  # classic 20-observation Bollinger frame


@register(
    "win_bollinger_bands",
    oracle=f"""
WITH daily AS (
  SELECT o_orderpriority AS priority, o_orderdate AS day,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT priority, day, cents,
         count(*) OVER w AS n,
         sum(cents) OVER w AS sx,
         sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) OVER w AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY priority ORDER BY day
               ROWS BETWEEN {_BOLL_WIN - 1} PRECEDING AND CURRENT ROW)
), t AS (
  SELECT priority, day, cents, n,
         CAST(n AS HUGEINT) * CAST(cents AS HUGEINT)
           - CAST(sx AS HUGEINT) AS dev,
         CAST(n AS HUGEINT) * sxx
           - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS nvar
  FROM s WHERE n = {_BOLL_WIN}
)
SELECT priority, day, cents,
       (dev > 0 AND dev * dev > 4 * nvar) AS brk_up,
       (dev < 0 AND dev * dev > 4 * nvar) AS brk_dn
FROM t
""",
    doc="Bollinger-band breakout flags over the daily revenue series per "
    "order priority: a day breaks out when its total sits more than two "
    f"rolling standard deviations from the {_BOLL_WIN}-day rolling mean — "
    "the volatility-banded anomaly monitor next to the z-score/MAD/CUSUM "
    "detectors (those are global or cumulative; this one is a moving "
    "local band). Exactness: the band test never materializes mean or "
    "sigma as floats — x > mean + 2*sigma cross-multiplies to the pure "
    "integer predicate (n*x - S) > 0 AND (n*x - S)^2 > 4*(n*Sq - S^2) "
    "over exact cent sums, with the squares in 128-bit intermediates "
    "(DECIMAL(38,0) on Spark, HUGEINT in DuckDB) so a daily total up to "
    "~1e17 cents cannot wrap — boolean flags are engine-identical by "
    "construction, no rounding anywhere. Scale: facts reduce to the "
    "(priority, day) grid in ONE partial-agg shuffle; the window runs "
    "on the grid (O(days), data-size-independent), partitioned by the "
    f"series key. Only full frames emit (n = {_BOLL_WIN}).",
    tags=("window", "timeseries"),
)
def win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(18,0)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(-(_BOLL_WIN - 1), 0)
    )
    d38 = "decimal(38,0)"
    s = daily.select(
        "priority",
        "day",
        "cents",
        F.count("*").over(w).alias("n"),
        F.sum("cents").over(w).alias("sx"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)"))
        .over(w)
        .alias("sxx"),
    ).filter(F.col("n") == _BOLL_WIN)
    dev = (
        F.col("n").cast(d38) * F.col("cents").cast(d38) - F.col("sx").cast(d38)
    ).alias("dev")
    nvar = (
        F.col("n").cast(d38) * F.col("sxx").cast(d38)
        - F.col("sx").cast(d38) * F.col("sx").cast(d38)
    ).alias("nvar")
    t = s.select("priority", "day", "cents", dev, nvar)
    return t.select(
        "priority",
        "day",
        "cents",
        ((F.col("dev") > 0) & (F.col("dev") * F.col("dev") > 4 * F.col("nvar"))).alias(
            "brk_up"
        ),
        ((F.col("dev") < 0) & (F.col("dev") * F.col("dev") > 4 * F.col("nvar"))).alias(
            "brk_dn"
        ),
    )


_RSI_WIN = 14


@register(
    "win_rsi_indicator",
    oracle=f"""
WITH daily AS (
  SELECT o_orderpriority AS priority, o_orderdate AS day,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), d AS (
  SELECT priority, day, cents,
         cents - lag(cents) OVER (PARTITION BY priority ORDER BY day) AS delta
  FROM daily
), gl AS (
  SELECT priority, day, cents,
         count(delta) OVER w AS n,
         CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w AS BIGINT)
           AS gain,
         CAST(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w AS BIGINT)
           AS loss
  FROM d
  WINDOW w AS (PARTITION BY priority ORDER BY day
               ROWS BETWEEN {_RSI_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT priority, day, cents, gain AS gain_cents, loss AS loss_cents,
       CAST(CASE WHEN gain + loss > 0
                 THEN CAST(gain AS HUGEINT) * 1000000 // (gain + loss)
                 ELSE 500000 END AS BIGINT) AS rsi_ppm
FROM gl WHERE n = {_RSI_WIN}
""",
    doc=f"Relative Strength Index (Wilder 1978, the SMA 'Cutler' "
    f"variant — rolling sums, not the recursive EMA, so it is "
    f"windowed-exact) over the daily revenue series per order "
    f"priority: separate {_RSI_WIN}-day rolling sums of up-moves and "
    "down-moves, RSI = 100 * gain/(gain+loss).  The asymmetric "
    "conditional rolling sums are the new pattern next to "
    "bollinger/ewma (symmetric moments); pinned as "
    "gain*1e6 // (gain+loss) truncating-division ppm over exact cent "
    "sums (flat windows pin to the conventional 50).  Scale posture: "
    "one partial-agg fact rollup to the per-priority day grid, then "
    "bounded ROWS-frame windows partitioned by priority — the "
    "win_bollinger_bands shape, no fact-scale window.",
    tags=("windows", "timeseries"),
)
def win_rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.expr("CAST(o_totalprice * 100 AS DECIMAL(18,0))"))
            .cast("bigint")
            .alias("cents")
        )
    )
    wl = Window.partitionBy("priority").orderBy("day")
    w = wl.rowsBetween(-(_RSI_WIN - 1), 0)
    d = daily.withColumn("delta", F.col("cents") - F.lag("cents").over(wl))
    gl = d.select(
        "priority",
        "day",
        "cents",
        F.count("delta").over(w).alias("n"),
        F.sum(F.when(F.col("delta") > 0, F.col("delta")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("gain"),
        F.sum(F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("loss"),
    )
    return gl.filter(F.col("n") == _RSI_WIN).select(
        "priority",
        "day",
        "cents",
        F.col("gain").alias("gain_cents"),
        F.col("loss").alias("loss_cents"),
        F.expr(
            "CAST(CASE WHEN gain + loss > 0"
            " THEN div(CAST(gain AS DECIMAL(38,0)) * 1000000, gain + loss)"
            " ELSE 500000 END AS BIGINT)"
        ).alias("rsi_ppm"),
    )
