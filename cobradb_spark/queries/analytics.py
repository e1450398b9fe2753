"""Event-analytics and pipeline-hygiene operators: gap sessionization,
cohort retention, funnel conversion, daily-count anomaly z-scores,
benchmark decontamination (n-gram overlap), and PII-style redaction.

Design rationale [P]: public cobradb is an ETL/loader package (models +
get_or_create upserts); it has no analytics query engine.  These
operators are the event-analytics surface any warehouse built ON such a
schema needs (sessionize / funnel / retention are the standard product-
analytics trio), expressed as single declarative Spark plans: sessionization is a
lag + running-sum window (one shuffle on user_id, reused by every
window in the chain); retention/funnel are two-phase aggregations that
reduce events to one row per (user, period/stage) BEFORE the heavy
join, so the shuffle carries users, not raw events.  Decontamination
follows the inverted-index pattern from textops: cost scales with
shared shingles, and the eval-side gram set is tiny => broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.ngrams import TRIGRAMS_SQL, word_trigrams
from cobradb_spark.operators.skew import fan_out
from cobradb_spark.registry import register

# shared cross-engine trigram snippet (cobradb_spark/ngrams.py) — keeps
# decontam_ngram_overlap and pipeline_curate_corpus in lockstep
_TRI_SQL = TRIGRAMS_SQL.format(w="str_split(text, ' ')")

_SESSION_GAP_MIN = 30


@register(
    "sessionize_events",
    oracle=f"""
WITH o AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), marked AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR date_diff('second', prev_ts, ts) > {_SESSION_GAP_MIN * 60}
                 THEN 1 ELSE 0 END AS is_new
  FROM o
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM sess GROUP BY user_id, session_no
""",
    doc="Batch gap sessionization (30-min inactivity gap): lag to detect gaps, "
    "running sum of new-session markers to number sessions, then per-session "
    "rollup. One shuffle on user_id serves the lag window, the running-sum "
    "window, AND the final groupBy (Spark reuses the hash partitioning) — at "
    "100 TB the plan is a single exchange keyed by user. Window order carries "
    "event_id as a unique tiebreaker.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    marked = e.withColumn(
        "is_new",
        F.when(gap_us.isNull() | (gap_us > _SESSION_GAP_MIN * 60 * 1_000_000), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@register(
    "cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM firsts f JOIN active a ON f.user_id = a.user_id
GROUP BY 1, 2
""",
    doc="Weekly cohort retention: cohort = week of first event, offset = weeks "
    "since cohort, cell = distinct active users. Both inputs are reduced to "
    "one row per (user, week) BEFORE the join, so the join shuffles |users x "
    "weeks| rows, never raw events — the scale-critical move. cohort side is "
    "one row per user => broadcast at any realistic user count.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    offset = (
        (F.col("active_week").cast("long") - F.col("cohort_week").cast("long"))
        / F.lit(86400 * 7)
    ).cast("long")
    return (
        active.join(F.broadcast(firsts), "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "funnel_conversion",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_no, CAST(count(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT 'click', CAST(2 AS BIGINT), CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 'purchase', CAST(3 AS BIGINT), CAST(count(*) AS BIGINT) FROM p
""",
    doc="Ordered funnel view -> click -> purchase: each stage keeps users whose "
    "earliest stage-k event strictly follows their stage-(k-1) time. Stages "
    "reduce to one row per user before joining; per-user frontier tables are "
    "tiny => broadcast joins against the (pre-filtered, pushed-down) event "
    "scan. Filter on event_type reaches the parquet reader.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, name: str, no: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(no).cast("long").alias("stage_no"),
            F.count("*").alias("users"),
        )

    return stage(v, "view", 1).unionAll(stage(c, "click", 2)).unionAll(
        stage(p, "purchase", 3)
    )


@register(
    "events_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT *,
         avg(n)         OVER w AS mu,
         stddev_samp(n) OVER w AS sigma,
         count(*)       OVER w AS n_hist
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n, round((n - mu) / sigma, 6) AS zscore
FROM stats
WHERE n_hist >= 3 AND sigma > 0 AND abs((n - mu) / sigma) > 1.5
""",
    doc="Daily-count anomaly detection: per event_type, z-score of each day's "
    "count against the trailing 7-day window (excluding the current day); "
    "flag |z| > 1.5. The window runs over the already-aggregated daily table "
    "(types x days rows), so the expensive scan reduces map-side first — the "
    "window stage is negligible at any scale. Requires >= 3 history days and "
    "nonzero variance so both engines agree on definedness.",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    stats = daily.select(
        "event_type",
        "day",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_hist"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        stats.filter((F.col("n_hist") >= 3) & (F.col("sigma") > 0) & (F.abs(z) > 1.5))
        .select("event_type", "day", "n", F.round(z, 6).alias("zscore"))
    )


@register(
    "decontam_ngram_overlap",
    oracle=f"""
WITH ev AS (
  SELECT DISTINCT unnest({_TRI_SQL}) AS g
  FROM documents WHERE doc_id % 50 = 0
), tr AS (
  SELECT DISTINCT doc_id, unnest({_TRI_SQL}) AS g
  FROM documents WHERE doc_id % 50 <> 0
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY doc_id
), hits AS (
  SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM tr JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id
)
SELECT s.doc_id, s.n_grams, coalesce(h.n_hit, 0) AS n_hit,
       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_grams, 6) AS overlap
FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
WHERE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_grams >= 0.2
""",
    doc="Benchmark decontamination: docs with doc_id % 50 = 0 stand in for the "
    "eval set; every training doc is scored by the fraction of its distinct "
    "word-trigrams that appear anywhere in the eval gram set, and docs at "
    ">= 20% overlap are flagged for removal. The eval gram set is tiny "
    "relative to the corpus => broadcast semi-style join; training grams "
    "never shuffle. This is the standard n-gram decontamination pass an LLM "
    "data pipeline runs before training.",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # split materialized once per row — element_at(split(...)) inside the
    # lambda re-splits the full text per gram (see dedup_containment_ngram)
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    grams = w.select(
        "doc_id", F.explode(F.array_distinct(word_trigrams("w"))).alias("g")
    )
    ev = grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    tr = grams.filter(F.col("doc_id") % 50 != 0)
    sizes = tr.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    overlap = F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("n_grams")
    return (
        sizes.join(hits, "doc_id", "left")
        .filter(overlap >= 0.2)
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(overlap, 6).alias("overlap"),
        )
    )


@register(
    "text_pii_redact",
    oracle="""
WITH red AS (
  SELECT event_id, event_type, props,
         regexp_replace(regexp_replace(props,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]+', '<NUM>', 'g') AS redacted
  FROM events
)
SELECT event_type,
       CAST(count(*) FILTER (WHERE redacted <> props) AS BIGINT) AS n_redacted,
       CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT)
         AS digit_chars
FROM red GROUP BY event_type
""",
    doc="PII-style redaction pass over raw event payloads: emails then digit "
    "runs are masked with regexp_replace (pure codegen'd JVM expressions — no "
    "UDF), and the rollup reports per-type redaction counts and total digit "
    "chars removed. At 100 TB this is a map-only stage fused into the scan "
    "followed by a 5-group aggregate; DuckDB needs the 'g' flag to match "
    "Spark's replace-all semantics.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "props")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.col("props"), r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
        ),
        r"[0-9]+",
        "<NUM>",
    )
    digit_chars = F.length("props") - F.length(
        F.regexp_replace(F.col("props"), r"[0-9]", "")
    )
    return (
        e.select("event_type", redacted.alias("redacted"), F.col("props"), digit_chars.alias("dc"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("redacted") != F.col("props"), 1).otherwise(0)).alias(
                "n_redacted"
            ),
            F.sum("dc").alias("digit_chars"),
        )
    )


@register(
    "funnel_time_bounded",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
           AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 72 HOUR
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
           AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 72 HOUR
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_no, CAST(count(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT 'click_72h', CAST(2 AS BIGINT), CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 'purchase_72h', CAST(3 AS BIGINT), CAST(count(*) AS BIGINT) FROM p
""",
    doc="Conversion-window funnel: each stage must land within 72h of the "
    "previous stage's time (the attribution-window semantics ad/product "
    "analytics actually use, vs funnel_conversion's unbounded ordering). "
    "Same scale shape: per-user frontier reductions broadcast against "
    "pushed-down event_type scans; the window bound is one extra codegen "
    "predicate on the join.",
)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    bound_us = 72 * 3600 * 1_000_000
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (us("ts") <= us("t_view") + bound_us))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter((F.col("ts") > F.col("t_click")) & (us("ts") <= us("t_click") + bound_us))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, name: str, no: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(no).cast("long").alias("stage_no"),
            F.count("*").alias("users"),
        )

    return stage(v, "view", 1).unionAll(stage(c, "click_72h", 2)).unionAll(
        stage(p, "purchase_72h", 3)
    )


@register(
    "segment_rfm",
    oracle="""
WITH peru AS (
  SELECT user_id,
         max(ts) AS last_ts,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(ntile(4) OVER (ORDER BY last_ts, user_id) AS BIGINT) AS r_q,
       CAST(ntile(4) OVER (ORDER BY freq, user_id) AS BIGINT) AS f_q,
       CAST(ntile(4) OVER (ORDER BY monetary_cents, user_id) AS BIGINT) AS m_q
FROM peru
""",
    doc="RFM segmentation: recency/frequency/monetary quartiles per user "
    "(monetary in integer cents; every ntile tiebroken by user_id so both "
    "engines cut identically). The quartile windows run over the "
    "AGGREGATED per-user table — events reduce map-side first, so the "
    "window input is |users|, not |events|; at extreme user cardinality "
    "the same quartiles derive from the distributed rank "
    "(operators/rank.py) exactly as etl_range_partition_plan does.",
)
def segment_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    peru = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("freq"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("monetary_cents"),
    )
    # Three exact quartile columns via the distributed global rank
    # (operators/rank.py), not Spark's single-partition ntile window —
    # per-user rows are unbounded at stream scale.  One range exchange
    # per dimension.
    from cobradb_spark.operators.rank import global_ntile

    for col, out in (("last_ts", "r_q"), ("freq", "f_q"), ("monetary_cents", "m_q")):
        peru = global_ntile(peru, [F.col(col).asc(), F.col("user_id").asc()], 4, out)
    return peru.select("user_id", "r_q", "f_q", "m_q")


@register(
    "analytics_copurchase_pairs",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_orders
FROM pairs GROUP BY p1, p2
HAVING count(*) >= 2
""",
    doc="Market-basket co-occurrence: distinct items per basket, then the "
    "canonical self-equi-join on the basket key with p1 < p2 to emit "
    "each unordered pair once, counted across baskets and thresholded "
    "(support >= 2). A-priori item prune BEFORE the self-join (r3 "
    "verdict item 5): a pair with support >= 2 needs both items in >= 2 "
    "baskets, so items below min-support are dropped first — on "
    "heavy-tailed real corpora this removes the hapax tail before it "
    "can pair (here every part clears the floor, so the prune is a "
    "no-op by count and the result is provably unchanged). The frequent "
    "set is one small partial-agg output (<= #distinct parts — a "
    "catalog dimension, not a fact table) and broadcasts. The self-join "
    "co-locates on l_orderkey — one shuffle both sides read — and the "
    "pair count is a partial+final agg on the pair key. Pair blow-up is "
    "quadratic in BASKET size, not data size: baskets here are <=7 "
    "items; at 100 TB the remaining guard is capping or sampling "
    "mega-baskets before the join (documented, not needed on this data).",
)
def analytics_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    frequent = (
        items.groupBy("l_partkey")
        .agg(F.count("*").alias("item_support"))
        .filter(F.col("item_support") >= 2)
        .select("l_partkey")
    )
    items = items.join(F.broadcast(frequent), "l_partkey", "left_semi")
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "analytics_rolling_distinct_users",
    oracle="""
WITH presence AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
), bounds AS (
  SELECT min(day) AS lo, max(day) AS hi FROM presence
), cover AS (
  SELECT p.user_id, unnest(generate_series(p.day, p.day + INTERVAL 6 DAY,
                                           INTERVAL 1 DAY)) AS day
  FROM presence p
), dedup AS (
  SELECT DISTINCT user_id, day FROM cover
)
SELECT d.day, CAST(count(*) AS BIGINT) AS distinct_users_7d
FROM dedup d CROSS JOIN bounds b
WHERE d.day BETWEEN b.lo AND b.hi
GROUP BY d.day
""",
    doc="Exact COUNT(DISTINCT) over a sliding window — not expressible as "
    "a Spark window function (no distinct aggregates over frames). "
    "Scalable rewrite: reduce events to distinct (user, day) presence "
    "rows, explode each presence onto the 7 trailing days it covers "
    "(sequence + explode, x7 on the REDUCED set, never raw events), "
    "dedup, count per day. Work is O(users x active-days x 7) "
    "regardless of event volume; every stage is a hash agg with "
    "map-side combine. Days past the observed range are trimmed so "
    "every reported day has a full trailing context.",
)
def analytics_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    presence = (
        load_events(spark, sf_dir)
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    bounds = presence.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cover = presence.select(
        "user_id",
        F.explode(
            F.sequence(
                "day", F.col("day") + F.expr("INTERVAL 6 DAY"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day"),
    ).distinct()
    return (
        cover.crossJoin(F.broadcast(bounds))
        .filter(F.col("day").between(F.col("lo"), F.col("hi")))
        .groupBy("day")
        .agg(F.count("*").alias("distinct_users_7d"))
    )


@register(
    "events_anomaly_mad",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, median(n) AS med_n FROM daily GROUP BY event_type
), dev AS (
  SELECT d.event_type, d.day, d.n, m.med_n, abs(d.n - m.med_n) AS adev
  FROM daily d JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(adev) AS mad_n FROM dev GROUP BY event_type
)
SELECT d.day, d.event_type, d.n,
       round(0.6745 * (d.n - d.med_n) / nullif(m.mad_n, 0.0), 6) AS rz,
       coalesce(abs(0.6745 * (d.n - d.med_n) / nullif(m.mad_n, 0.0)) > 3.5,
                FALSE) AS outlier
FROM dev d JOIN mad m USING (event_type)
""",
    doc="Robust daily-volume anomaly detection per event type: modified "
    "z-score 0.6745*(x - median)/MAD with the 3.5 outlier cut (Iglewicz-"
    "Hoaglin). Complements events_anomaly_zscore (mean/stddev are themselves "
    "corrupted by the outliers they hunt; median/MAD have a 50% breakdown "
    "point). Facts reduce to one row per (type, day) in a partial+final "
    "count BEFORE any median work, so the exact medians run on the tiny "
    "daily grid, never raw events — per-key exact medians at 100 TB stay "
    "cheap because |types x days| is bounded.",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    med = daily.groupBy("event_type").agg(F.median("n").alias("med_n"))
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med_n"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad_n"))
    rz = F.lit(0.6745) * (F.col("n") - F.col("med_n")) / F.nullif(
        F.col("mad_n"), F.lit(0.0)
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "day",
        "event_type",
        "n",
        F.round(rz, 6).alias("rz"),
        F.coalesce(F.abs(rz) > 3.5, F.lit(False)).alias("outlier"),
    )


@register(
    "ts_autocorr",
    oracle="""
WITH g AS (
  SELECT event_type, date_trunc('day', ts) AS day, round(sum(value), 6) AS x
  FROM events GROUP BY 1, 2
),
l AS (
  SELECT event_type, x,
         lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2, lag(x, 3) OVER w AS l3
  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
r AS (
  SELECT event_type, round(corr(x, l1), 6) AS a1, round(corr(x, l2), 6) AS a2,
         round(corr(x, l3), 6) AS a3
  FROM l GROUP BY event_type
)
SELECT event_type, CAST(1 AS BIGINT) AS lag, a1 AS acf FROM r
UNION ALL
SELECT event_type, CAST(2 AS BIGINT) AS lag, a2 AS acf FROM r
UNION ALL
SELECT event_type, CAST(3 AS BIGINT) AS lag, a3 AS acf FROM r
""",
    doc="Lag-1/2/3 autocorrelation of the daily value series per event type "
    "— seasonality detection for capacity planning and drift monitors. The "
    "fact table reduces to the (type, day) grid in a partial+final sum "
    "BEFORE any window work, so the lag window and corr aggregates run on "
    "|types x days| rows, never raw events; daily sums rounded to 6 on both "
    "engines to re-sync addition-order drift before the correlations.",
    tags=("analytics",),
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    l = g.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("l1"),
        F.lag("x", 2).over(w).alias("l2"),
        F.lag("x", 3).over(w).alias("l3"),
    )
    r = l.groupBy("event_type").agg(
        F.round(F.corr("x", "l1"), 6).alias("a1"),
        F.round(F.corr("x", "l2"), 6).alias("a2"),
        F.round(F.corr("x", "l3"), 6).alias("a3"),
    )
    return r.select(
        "event_type",
        F.expr("stack(3, 1L, a1, 2L, a2, 3L, a3) AS (lag, acf)"),
    ).select("event_type", "lag", "acf")


@register(
    "analytics_path_transitions",
    oracle=f"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), marked AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR date_diff('second', prev_ts, ts) > {_SESSION_GAP_MIN * 60}
                 THEN 1 ELSE 0 END AS is_new
  FROM o
), sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
), pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id, session_no
                                ORDER BY ts, event_id) AS to_type
  FROM sess
), counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS prob
FROM counts
""",
    doc="Markov path analysis: within-session event-type transition counts "
    "and row-normalized transition probabilities (the click-path / funnel-"
    "discovery primitive). Sessionization reuses the single user_id shuffle "
    "(same partitioning serves lag, session numbering, AND lead), pairs "
    "partial-aggregate to the |types|^2 transition grid map-side, and the "
    "probability normalization windows over that tiny grid — raw events "
    "never shuffle twice.",
    tags=("analytics",),
)
def analytics_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    sess = e.withColumn(
        "is_new",
        F.when(gap_us.isNull() | (gap_us > _SESSION_GAP_MIN * 60 * 1_000_000), 1).otherwise(0),
    ).withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    pairs = sess.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(ws).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wt), 6).alias("prob"),
    )


@register(
    "events_changepoint_cusum",
    oracle="""
WITH g AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(sum(value), 6) AS x
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, round(avg(x), 6) AS mu, round(stddev_samp(x), 6) AS sigma
  FROM g GROUP BY event_type
), c AS (
  SELECT g.event_type, g.day, g.x, s.sigma,
         round(sum(g.x - s.mu) OVER (PARTITION BY g.event_type ORDER BY g.day
                                     ROWS UNBOUNDED PRECEDING), 4) + 0.0 AS cusum
  FROM g JOIN stats s USING (event_type)
)
SELECT event_type, day, x, cusum,
       abs(cusum) > 2 * sigma AS flagged
FROM c
""",
    doc="CUSUM changepoint detection on the daily value series per event "
    "type: running sum of deviations from the series mean, flagged where "
    "|CUSUM| drifts past 2 sigma — catches slow level shifts that the "
    "pointwise z-score monitors (events_anomaly_zscore/_mad) miss. Facts "
    "reduce to the (type, day) grid map-side; mean/sigma are a second "
    "tiny aggregate broadcast back; the running window orders grid rows "
    "only. Daily sums, mean, and CUSUM are rounded on both engines so the "
    "accumulated drift re-syncs before the threshold comparison.",
    tags=("analytics",),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("x")
    )
    stats = g.groupBy("event_type").agg(
        F.round(F.avg("x"), 6).alias("mu"),
        F.round(F.stddev_samp("x"), 6).alias("sigma"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.join(F.broadcast(stats), "event_type").withColumn(
        # + 0.0 normalizes IEEE negative zero (-0.0 hashes != 0.0)
        "cusum", F.round(F.sum(F.col("x") - F.col("mu")).over(w), 4) + F.lit(0.0)
    )
    return c.select(
        "event_type",
        "day",
        "x",
        "cusum",
        (F.abs("cusum") > 2 * F.col("sigma")).alias("flagged"),
    )


@register(
    "analytics_pattern_match_journeys",
    oracle="""
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(journey) AS BIGINT) AS journey_len,
       CAST(len(regexp_extract_all(journey, 'v[^e]*c[^e]*p')) AS BIGINT)
         AS n_conversions,
       len(regexp_extract_all(journey, 'v[^e]*c[^e]*p')) > 0 AS converted
FROM j
""",
    doc="MATCH_RECOGNIZE-lite event-pattern matching: each user's ordered "
    "event stream collapses to a journey string (one char per event — "
    "type initials are distinct in this vocabulary), and conversions = "
    "non-overlapping matches of view -> click -> purchase with NO error "
    "in between ('v[^e]*c[^e]*p'). The string build is one groupBy with "
    "an ordered collect (journey length is bounded per user, not per "
    "partition); the regex count is a JVM-side scalar — no UDF, no "
    "per-event state machine. Greedy leftmost counting agrees between "
    "Spark (java.util.regex) and the oracle (RE2) on this "
    "backtracking-free pattern; hash-verified at all three sfs.",
    tags=("analytics",),
)
def analytics_pattern_match_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    ev = load_events(spark, sf_dir)
    s = F.struct(
        F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("i")
    )
    j = (
        ev.select("user_id", s.alias("s"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.sort_array(F.collect_list("s")), lambda x: x["i"])
            ).alias("journey")
        )
    )
    n_conv = F.regexp_count("journey", F.lit("v[^e]*c[^e]*p"))
    return j.select(
        "user_id",
        F.length("journey").cast("long").alias("journey_len"),
        n_conv.cast("long").alias("n_conversions"),
        (n_conv > 0).alias("converted"),
    )


@register(
    "analytics_attribution_position",
    oracle="""
WITH purchases AS (
  SELECT user_id, event_id AS p_id, ts AS p_ts, value AS p_value
  FROM events WHERE event_type = 'purchase'
), touches AS (
  SELECT p.p_id, p.p_value, e.event_type,
         row_number() OVER (PARTITION BY p.p_id ORDER BY e.ts, e.event_id) AS rn,
         count(*) OVER (PARTITION BY p.p_id) AS n
  FROM purchases p JOIN events e
    ON e.user_id = p.user_id AND e.event_type IN ('view', 'click')
   AND e.ts < p.p_ts AND e.ts >= p.p_ts - INTERVAL 7 DAY
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       round(sum(p_value * CASE WHEN n = 1 THEN 1.0
                                WHEN n = 2 THEN 0.5
                                WHEN rn = 1 OR rn = n THEN 0.4
                                ELSE 0.2 / (n - 2) END), 6) AS credited_value
FROM touches GROUP BY event_type
""",
    doc="Multi-touch attribution, U-shaped position credit: each "
    "purchase's value splits over the user's view/click touchpoints in "
    "the trailing 7 days — 40% to the first touch, 40% to the last, the "
    "remaining 20% evenly across the middle (degenerating to 100%/50-50 "
    "for 1-2 touches) — rolled up to credited value per touch type. "
    "Shape: a per-user time-banded join (purchases x trailing touches, "
    "bounded by the window, never all-pairs) feeding two window "
    "functions partitioned BY PURCHASE (small frames, distributed over "
    "purchases), then one partial+final aggregate; the tiebreak "
    "(ts, event_id) makes first/last assignment deterministic. At "
    "100 TB both sides pre-partition by user_id, so the join is "
    "co-located and each purchase's frame stays node-local.",
    tags=("analytics",),
)
def analytics_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_id", "event_type", "ts"
    )
    joined = purchases.join(
        touches,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    )
    credit = F.col("p_value") * (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        joined.select("p_id", "p_value", "event_type", F.col("ts").alias("t_ts"), "event_id")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("p_id").orderBy("t_ts", "event_id")),
        )
        .withColumn("n", F.count("*").over(Window.partitionBy("p_id")))
        .select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum("credit"), 6).alias("credited_value"),
        )
    )


_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.3


@register(
    "events_forecast_holt",
    oracle=f"""
WITH RECURSIVE
grid AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(sum(value), 6) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM grid
),
holt AS (
  SELECT event_type, t, n, CAST(y AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.t, i.n,
         round({_HOLT_ALPHA} * i.y + {1 - _HOLT_ALPHA} * (h.l + h.b), 9),
         round({_HOLT_BETA}
               * (round({_HOLT_ALPHA} * i.y
                        + {1 - _HOLT_ALPHA} * (h.l + h.b), 9) - h.l)
               + {1 - _HOLT_BETA} * h.b, 9)
  FROM holt h JOIN idx i ON i.event_type = h.event_type AND i.t = h.t + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days, l AS level, b AS trend,
       round(l + b, 6) AS f1, round(l + 2 * b, 6) AS f2,
       round(l + 3 * b, 6) AS f3
FROM holt WHERE t = n
""",
    doc="Holt linear (level + trend) exponential smoothing over the daily "
    f"per-type value series (alpha={_HOLT_ALPHA}, beta={_HOLT_BETA}), with "
    "1/2/3-step-ahead forecasts — the capacity-planning recurrence next to "
    "the CUSUM/z-score detectors. The recurrence is sequential by "
    "definition (l_t, b_t depend on l_t-1, b_t-1), so Spark reduces events "
    "to the tiny (type, day) grid FIRST (one partial-agg shuffle — the "
    "fact table never reaches Python) and replays the recurrence per "
    "series via applyInPandas; series are the parallelism grain. Both "
    "iterates round at 9 each step (the pagerank re-sync trick) and the "
    "per-step rounding uses floor(x*1e9+0.5) half-away semantics matching "
    "DuckDB/Spark round for the python side. Oracle = the identical "
    "recurrence as a DuckDB recursive CTE over the day-indexed grid. "
    "Initialization: l_1 = y_1, b_1 = 0 (documented; trend warms up in "
    "~1/beta steps). Gaps in the day grid advance the recurrence one "
    "OBSERVATION, not one calendar day (observation-indexed Holt).",
    tags=("analytics", "timeseries"),
)
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    a, bta = _HOLT_ALPHA, _HOLT_BETA

    def _round(x: float, p: int) -> float:
        scale = 10.0 ** p
        return float(np.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        y = pdf["y"].to_numpy(dtype=np.float64)
        l, b = float(y[0]), 0.0
        for t in range(1, len(y)):
            l_new = _round(a * y[t] + (1 - a) * (l + b), 9)
            b = _round(bta * (l_new - l) + (1 - bta) * b, 9)
            l = l_new
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[:1],
                "n_days": [len(y)],
                "level": [l],
                "trend": [b],
                "f1": [_round(l + b, 6)],
                "f2": [_round(l + 2 * b, 6)],
                "f3": [_round(l + 3 * b, 6)],
            }
        )

    grid = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
    )
    return grid.groupBy("event_type").applyInPandas(
        holt,
        schema="event_type string, n_days long, level double, trend double, "
        "f1 double, f2 double, f3 double",
    )


_STL_HALF = 12  # centered trend frame: 11 preceding + current + 12 following


@register(
    "events_stl_decompose",
    oracle=f"""
WITH grid AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS sum_cents,
         count(*) AS n_ticks
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, hour, sum_cents, n_ticks,
         CAST(sum_cents AS DOUBLE) / 100.0 / n_ticks AS observed,
         CAST(sum(sum_cents) OVER w AS DOUBLE) / 100.0
             / CAST(sum(n_ticks) OVER w AS DOUBLE) AS trend
  FROM grid
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {_STL_HALF - 1} PRECEDING
                        AND {_STL_HALF} FOLLOWING)
), d AS (
  SELECT *, observed - trend AS detrended,
         CAST(floor((observed - trend) * 1000000000.0 + 0.5) AS BIGINT)
             AS dn,
         date_part('hour', hour) AS hod
  FROM t
), seas AS (
  SELECT event_type, hod,
         CAST(sum(dn) AS DOUBLE) / 1000000000.0 / count(*) AS seasonal
  FROM d GROUP BY 1, 2
)
SELECT d.event_type, d.hour, d.observed, d.trend,
       seas.seasonal, d.detrended - seas.seasonal AS residual
FROM d JOIN seas ON d.event_type = seas.event_type AND d.hod = seas.hod
""",
    doc="Seasonal-trend decomposition (STL-shaped, moving-average "
    "variant) of the hourly mean value per event_type: trend = centered "
    f"{2 * _STL_HALF}-observation tick-weighted moving average, seasonal "
    "= mean detrended value per hour-of-day, residual = the rest. "
    "Exactness design: the raw fact rows reduce to BIGINT-cent "
    "(sum_cents, n_ticks) hourly state FIRST — one partial-agg shuffle, "
    "and the centered trend frame then sums exact integers (float frame "
    "sums differ across engines: segment trees vs sequential); the "
    "seasonal group mean quantizes detrended to nanos for the same "
    "reason. The seasonal profile is |types| x 24 rows — a broadcast "
    "join back onto the grid. At 100 TB the decomposition cost is the "
    "one grid shuffle; everything after runs on the tiny rollup (the "
    "continuous-aggregate pattern shared with rollup_hypertable).",
    tags=("analytics", "timeseries"),
)
def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
                "sum_cents"
            ),
            F.count("*").alias("n_ticks"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(_STL_HALF - 1), _STL_HALF)
    )
    t = grid.select(
        "event_type",
        "hour",
        (F.col("sum_cents").cast("double") / 100.0 / F.col("n_ticks")).alias(
            "observed"
        ),
        (
            F.sum("sum_cents").over(w).cast("double")
            / 100.0
            / F.sum("n_ticks").over(w).cast("double")
        ).alias("trend"),
    )
    d = t.withColumn("detrended", F.col("observed") - F.col("trend")).withColumn(
        "dn",
        F.floor(F.col("detrended") * 1000000000.0 + 0.5).cast("bigint"),
    ).withColumn("hod", F.hour("hour"))
    seas = d.groupBy("event_type", "hod").agg(
        (F.sum("dn").cast("double") / 1000000000.0 / F.count("*")).alias(
            "seasonal"
        )
    )
    return d.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type",
        "hour",
        "observed",
        "trend",
        "seasonal",
        (F.col("detrended") - F.col("seasonal")).alias("residual"),
    )


_HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_M = 0.5, 0.3, 0.4, 7


@register(
    "events_forecast_holt_winters",
    oracle=f"""
WITH RECURSIVE
grid AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(sum(value), 6) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM grid
),
hw AS (
  SELECT event_type, t, n, CAST(y AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b,
         [CAST(0 AS DOUBLE) FOR _ IN range({_HW_M})] AS s
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.t, i.n,
         round({_HW_ALPHA} * (i.y - h.s[1])
               + {1 - _HW_ALPHA} * (h.l + h.b), 9),
         round({_HW_BETA}
               * (round({_HW_ALPHA} * (i.y - h.s[1])
                        + {1 - _HW_ALPHA} * (h.l + h.b), 9) - h.l)
               + {1 - _HW_BETA} * h.b, 9),
         list_append(h.s[2:{_HW_M}],
           round({_HW_GAMMA}
                 * (i.y - round({_HW_ALPHA} * (i.y - h.s[1])
                          + {1 - _HW_ALPHA} * (h.l + h.b), 9))
                 + {1 - _HW_GAMMA} * h.s[1], 9))
  FROM hw h JOIN idx i ON i.event_type = h.event_type AND i.t = h.t + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days, l AS level, b AS trend,
       round(l + b + s[1], 6) AS f1,
       round(l + 2 * b + s[2], 6) AS f2,
       round(l + 3 * b + s[3], 6) AS f3
FROM hw WHERE t = n
""",
    doc="Holt-Winters additive triple smoothing (level + trend + "
    f"season-{_HW_M}, alpha={_HW_ALPHA}, beta={_HW_BETA}, "
    f"gamma={_HW_GAMMA}) over the daily per-type value series — the "
    "seasonal completion of events_forecast_holt. Zero-initialized "
    "seasonals (l_1 = y_1, b_1 = 0, s = zeros; the seasonal profile "
    "warms up through gamma) keep the recurrence defined for any series "
    "length >= 2 and fully deterministic. Both engines replay the "
    "identical per-step round-9 iterates (the pagerank re-sync trick); "
    "the DuckDB oracle carries the m-period seasonal STATE as a list "
    "column through the recursive CTE (slice + append per step). Spark "
    "reduces events to the tiny (type, day) grid first — one "
    "partial-agg shuffle, the fact table never reaches Python — and "
    "replays per series via applyInPandas; 1/2/3-step forecasts add "
    "the final seasonal indices. At 100 TB: series are the parallelism "
    "grain, state is O(m) per series.",
    tags=("analytics", "timeseries"),
)
def events_forecast_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    a, bta, g, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_M

    def _round(x: float, p: int) -> float:
        scale = 10.0 ** p
        return float(np.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1))

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        y = pdf["y"].to_numpy(dtype=np.float64)
        l, b = float(y[0]), 0.0
        s = [0.0] * m
        for t in range(1, len(y)):
            l_new = _round(a * (y[t] - s[0]) + (1 - a) * (l + b), 9)
            b = _round(bta * (l_new - l) + (1 - bta) * b, 9)
            s_new = _round(g * (y[t] - l_new) + (1 - g) * s[0], 9)
            s = s[1:] + [s_new]
            l = l_new
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[:1],
                "n_days": [len(y)],
                "level": [l],
                "trend": [b],
                "f1": [_round(l + b + s[0], 6)],
                "f2": [_round(l + 2 * b + s[1], 6)],
                "f3": [_round(l + 3 * b + s[2], 6)],
            }
        )

    grid = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
    )
    return grid.groupBy("event_type").applyInPandas(
        hw,
        schema="event_type string, n_days long, level double, trend double, "
        "f1 double, f2 double, f3 double",
    )


_BURST_WINDOW_S = 86400  # trailing 24 h
_BURST_MIN = 5


@register(
    "events_rate_burst",
    oracle=f"""
WITH t AS (
  SELECT user_id, event_id,
         epoch_us(ts) // 1000000 AS ts_s
  FROM events
)
SELECT user_id, event_id,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_s
                           RANGE BETWEEN {_BURST_WINDOW_S} PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
           AS n_trailing,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts_s
                           RANGE BETWEEN {_BURST_WINDOW_S} PRECEDING
                                     AND CURRENT ROW)
            >= {_BURST_MIN} AS BIGINT) AS is_burst
FROM t
""",
    doc="Trailing-window rate / burst detection: for every event, the "
    f"count of that user's events in the trailing {_BURST_WINDOW_S}-second "
    f"window (RANGE frame over exact integer epoch seconds), flagged "
    f"when >= {_BURST_MIN} — the rate-limiting / abuse-detection "
    "primitive next to the value-based anomaly detectors. RANGE (not "
    "ROWS) is the point: the frame is defined by TIME distance, so "
    "same-second events share a frame and gaps shrink it — and the "
    "whole thing is one shuffle on user_id with a sorted range-frame "
    "scan per partition, linear at any scale. Epoch seconds computed "
    "tz-free (NTZ diff) so a foreign session's timezone cannot shift "
    "frame boundaries.",
    tags=("analytics", "events"),
)
def events_rate_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ts_s = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    t = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_s.alias("ts_s")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-_BURST_WINDOW_S, 0)
    )
    n = F.count("*").over(w)
    return t.select(
        "user_id",
        "event_id",
        n.cast("bigint").alias("n_trailing"),
        (n >= _BURST_MIN).cast("bigint").alias("is_burst"),
    )


@register(
    "analytics_audience_overlap",
    oracle="""
WITH seg AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM seg GROUP BY 1
)
SELECT a.event_type AS seg_a, b.event_type AS seg_b,
       sa.n AS n_a, sb.n AS n_b,
       CAST(count(*) AS BIGINT) AS n_overlap,
       CAST(count(*) * 1000000 // (sa.n + sb.n - count(*)) AS BIGINT)
           AS jaccard_ppm
FROM seg a
JOIN seg b ON a.user_id = b.user_id AND a.event_type < b.event_type
JOIN sizes sa ON sa.event_type = a.event_type
JOIN sizes sb ON sb.event_type = b.event_type
GROUP BY a.event_type, b.event_type, sa.n, sb.n
""",
    doc="Exact audience-overlap matrix: for every pair of event-type "
    "segments, the exact intersection of user sets plus Jaccard "
    "similarity in integer ppm (count*1e6 // union — pure integer "
    "arithmetic, no float set-similarity). The segment membership table "
    "is the DISTINCT (type, user) projection — ONE shuffle — and the "
    "pairwise overlap is a self-equi-join on user_id (each user "
    "contributes |their types| choose 2 pair rows, bounded by the "
    "segment-count constant, never a cross join). This is the EXACT "
    "companion to the sketched overlap (agg_hll_intersect_estimate): "
    "at 100 TB you run the sketch first and this exact join on the "
    "segment pairs that matter.",
    tags=("analytics",),
)
def analytics_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    sizes = seg.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = seg.alias("a")
    b = seg.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("seg_a"),
            F.col("b.event_type").alias("seg_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
    )
    sa = sizes.select(
        F.col("event_type").alias("ta"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("tb"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), pairs["seg_a"] == sa["ta"])
        .join(F.broadcast(sb), pairs["seg_b"] == sb["tb"])
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            "n_overlap",
            F.expr(
                "CAST(n_overlap * 1000000 div (n_a + n_b - n_overlap) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


_RULE_MIN_SUPPORT = 2  # same pair floor as analytics_copurchase_pairs
_RULE_TOP = 100


@register(
    "analytics_basket_rules",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items
), sup1 AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(count(*) AS BIGINT) AS sup12
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_RULE_MIN_SUPPORT}
), rules AS (
  SELECT p1 AS antecedent, p2 AS consequent, sup12 FROM pairs
  UNION ALL
  SELECT p2, p1, sup12 FROM pairs
), scored AS (
  SELECT r.antecedent, r.consequent, r.sup12,
         sa.sup AS sup_ante, sc.sup AS sup_cons,
         r.sup12 * 1000000 // sa.sup AS confidence_ppm,
         CAST(CAST(r.sup12 AS HUGEINT) * n.n_baskets * 1000000
              // (CAST(sa.sup AS HUGEINT) * sc.sup) AS BIGINT) AS lift_ppm
  FROM rules r
  JOIN sup1 sa ON sa.l_partkey = r.antecedent
  JOIN sup1 sc ON sc.l_partkey = r.consequent
  CROSS JOIN n
)
SELECT antecedent, consequent, sup12, sup_ante, sup_cons,
       confidence_ppm, lift_ppm
FROM scored
ORDER BY lift_ppm DESC, antecedent, consequent LIMIT {_RULE_TOP}
""",
    doc="Association-rule mining (Agrawal-Srikant support/confidence/"
    "lift) over order baskets: directional rules antecedent->consequent "
    f"from pairs with support >= {_RULE_MIN_SUPPORT}, confidence = "
    "P(cons|ante), lift = P(ante,cons)/(P(ante)P(cons)), both as exact "
    "integer ppm (truncating div over BIGINT counts — no float "
    f"anywhere), top-{_RULE_TOP} by (lift, rule).  Extends "
    "analytics_copurchase_pairs (co-occurrence counts only) with the "
    "normalized rule metrics a recommender actually ranks by.  Scale: "
    "the pair join co-locates on l_orderkey (one shuffle both sides "
    "read); item supports are a dimension-sized rollup that broadcasts "
    "to the rule scoring (two BroadcastHashJoins, no shuffle of the "
    "pair table); the basket count is a 1-row broadcast; top-100 is "
    "TakeOrdered, never a global sort.  Pair blow-up is quadratic in "
    "basket size, not data size (mega-basket capping documented at "
    "analytics_copurchase_pairs).",
    tags=("analytics",),
)
def analytics_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = items.agg(F.countDistinct("l_orderkey").cast("long").alias("n_baskets"))
    sup1 = items.groupBy("l_partkey").agg(F.count("*").cast("long").alias("sup"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count("*").cast("long").alias("sup12"))
        .filter(F.col("sup12") >= _RULE_MIN_SUPPORT)
    )
    rules = pairs.select(
        F.col("p1").alias("antecedent"), F.col("p2").alias("consequent"), "sup12"
    ).unionByName(
        pairs.select(
            F.col("p2").alias("antecedent"), F.col("p1").alias("consequent"), "sup12"
        )
    )
    scored = (
        rules.join(
            F.broadcast(sup1.select(F.col("l_partkey").alias("antecedent"),
                                    F.col("sup").alias("sup_ante"))),
            "antecedent",
        )
        .join(
            F.broadcast(sup1.select(F.col("l_partkey").alias("consequent"),
                                    F.col("sup").alias("sup_cons"))),
            "consequent",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "sup12",
            "sup_ante",
            "sup_cons",
            F.expr("div(sup12 * 1000000, sup_ante)").alias("confidence_ppm"),
            # r8 overflow audit: sup12 * n_baskets * 1e6 exceeds BIGINT
            # once baskets pass ~150M (sf50+) — widen the product, land
            # back in BIGINT (lift caps far below 2^63)
            F.expr(
                "CAST(div(CAST(sup12 AS DECIMAL(38,0)) * n_baskets * 1000000,"
                " CAST(sup_ante AS DECIMAL(38,0)) * sup_cons) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.col("lift_ppm").desc(), "antecedent", "consequent"
    ).limit(_RULE_TOP)


_XCORR_MAX_LAG = 12  # hourly lags swept: click series shifted 0..12h


@register(
    "events_cross_correlation",
    oracle=f"""
WITH g AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS cents
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2
), x AS (SELECT hour, cents FROM g WHERE event_type = 'view'),
y AS (SELECT hour, cents FROM g WHERE event_type = 'click'),
lags AS (SELECT unnest(generate_series(0, {_XCORR_MAX_LAG})) AS lag),
pair AS (
  SELECT l.lag, x.cents AS xv, y.cents AS yv
  FROM lags l
  JOIN x ON TRUE
  JOIN y ON y.hour = x.hour + to_hours(l.lag)
), s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
         sum(CAST(xv AS HUGEINT) * xv) AS sxx,
         sum(CAST(yv AS HUGEINT) * yv) AS syy,
         sum(CAST(xv AS HUGEINT) * yv) AS sxy
  FROM pair GROUP BY 1
)
SELECT lag, n,
       CAST(floor(
         CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
         * 1000000) AS BIGINT) AS corr_ppm
FROM s WHERE n >= 2 AND n * sxx > CAST(sx AS HUGEINT) * sx
         AND n * syy > CAST(sy AS HUGEINT) * sy
ORDER BY lag
""",
    doc="Cross-correlation lag sweep (signal-alignment / lead-lag "
    "detection between two metric streams): hourly cents-quantized "
    f"view and click series, Pearson correlation at every click lag "
    f"0..{_XCORR_MAX_LAG}h, reported as floor-ppm.  All sums are exact "
    "BIGINT; the final score is BIGINT->DOUBLE casts through one "
    "multiply, one sqrt, one divide — every step IEEE "
    "correctly-rounded, hence bit-identical cross-engine even though "
    "the intermediate moments exceed 2^53 (cast rounding is correctly "
    "rounded too, identically).  Degenerate lags (constant series) "
    "drop via the exact integer variance guards.  Scale: the hourly "
    "rollup is the only pass over raw events (map-side combinable); "
    "the lag sweep runs on the SERIES (dimension-scale: hours, not "
    "events) via an equi-join on the shifted hour key — at 100 TB the "
    "series for a year is 8760 rows per metric regardless of event "
    "volume.",
    tags=("analytics",),
)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    g = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.sum(F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    x = g.filter(F.col("event_type") == "view").select("hour", F.col("cents").alias("xv"))
    y = g.filter(F.col("event_type") == "click").select(
        F.col("hour").alias("yhour"), F.col("cents").alias("yv")
    )
    lags = spark.range(_XCORR_MAX_LAG + 1).select(F.col("id").alias("lag"))
    pair = (
        x.crossJoin(F.broadcast(lags))
        .withColumn(
            "jhour",
            F.timestamp_micros(
                F.unix_micros(F.col("hour")) + F.col("lag") * F.lit(3600000000)
            ),
        )
        .join(y, F.col("yhour") == F.col("jhour"))
    )
    # r8 overflow audit: hourly cents sums reach ~4e9 at sf100, so the
    # per-row squares (~1.6e19) and their sums overflow BIGINT — widen
    # the moment accumulation to 128-bit (DECIMAL here, HUGEINT in the
    # oracle); the final corr is the same exact-integer-to-double tree
    # on both engines, so parity is unchanged.
    s = pair.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xv").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.col("xv").cast("decimal(19,0)") * F.col("xv")).alias("sxx"),
        F.sum(F.col("yv").cast("decimal(19,0)") * F.col("yv")).alias("syy"),
        F.sum(F.col("xv").cast("decimal(19,0)") * F.col("yv")).alias("sxy"),
    )
    num = (
        F.col("n") * F.col("sxy")
        - F.col("sx").cast("decimal(19,0)") * F.col("sy").cast("decimal(19,0)")
    ).cast("double")
    dx = (
        F.col("n") * F.col("sxx")
        - F.col("sx").cast("decimal(19,0)") * F.col("sx").cast("decimal(19,0)")
    )
    dy = (
        F.col("n") * F.col("syy")
        - F.col("sy").cast("decimal(19,0)") * F.col("sy").cast("decimal(19,0)")
    )
    return (
        s.filter((F.col("n") >= 2) & (dx > 0) & (dy > 0))
        .select(
            "lag",
            "n",
            F.floor(num / F.sqrt(dx.cast("double") * dy.cast("double")) * 1000000)
            .cast("long")
            .alias("corr_ppm"),
        )
        .orderBy("lag")
    )


_CUPED_SPLIT = "TIMESTAMP '1998-01-01'"


@register(
    "analytics_ab_cuped",
    oracle=f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CASE WHEN o_orderdate <  {_CUPED_SPLIT}
                       THEN CAST(o_totalprice * 100 AS DECIMAL(18,0)) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN o_orderdate >= {_CUPED_SPLIT}
                       THEN CAST(o_totalprice * 100 AS DECIMAL(18,0)) ELSE 0 END)
              AS BIGINT) AS y
  FROM orders GROUP BY o_custkey),
armed AS (
  SELECT cust, x, y,
         CASE WHEN CAST(CAST(concat('0x', substr(md5(concat('cuped',
                   CAST(cust AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT) % 2 = 0
              THEN 'control' ELSE 'treatment' END AS arm
  FROM per_cust),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
  FROM armed),
t AS (
  SELECT n, sx,
         CAST(((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT))
               * 1000000)
              // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
              AS BIGINT) AS theta_ppm
  FROM g),
a AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(x) AS BIGINT) AS x_sum_cents, CAST(sum(y) AS BIGINT) AS y_sum_cents
  FROM armed GROUP BY arm)
SELECT a.arm, a.n_units, a.x_sum_cents, a.y_sum_cents, t.theta_ppm,
       CAST(a.y_sum_cents AS DOUBLE) / (100.0 * a.n_units) AS mean_y,
       CAST(a.y_sum_cents AS DOUBLE) / (100.0 * a.n_units)
         - (CAST(t.theta_ppm AS DOUBLE) / 1000000.0)
           * (CAST(a.x_sum_cents AS DOUBLE) / (100.0 * a.n_units)
              - CAST(t.sx AS DOUBLE) / (100.0 * t.n)) AS mean_y_cuped
FROM a CROSS JOIN t
""",
    doc="CUPED variance-reduced A/B readout (the published "
    "Deng-Xu-Kohavi-Walker controlled-experiment estimator): customers "
    "hash deterministically into control/treatment (seeded md5 — stable "
    "under reruns, no RNG state), the pre-period spend X (orders before "
    "1998-01-01, exact cents) is the covariate for the post-period "
    "metric Y, theta = cov(X,Y)/var(X) is computed POOLED across arms "
    "from exact integer sums (each x,y is cast 128-bit BEFORE the "
    "multiply — a BIGINT product of two multi-billion-cent customer "
    "totals would wrap silently in non-ANSI Spark while DuckDB errors; "
    "DECIMAL(19,0)x(19,0)->DECIMAL(38,0) in Spark, HUGEINT in DuckDB, "
    "both exact since each factor fits 19 digits) and "
    "pinned as a truncating-division ppm integer — both engines "
    "truncate toward zero, verified — so the only float steps are the "
    "final correctly-rounded means (deliberately unrounded doubles, the "
    "geo-family discipline: identical literal expression both engines). "
    "Adjusted mean_y_cuped = mean_y - theta*(mean_x_arm - mean_x_all) "
    "removes the pre-period component of between-arm imbalance. Scale "
    "posture: one groupBy(custkey) partial-agg shuffle reduces facts to "
    "units, one 5-number global agg, the 1-row theta broadcast into the "
    "2-row arm table — at 100 TB the plan is a single fact pass.",
    tags=("analytics",),
)
def analytics_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_cuped_v")
    return spark.sql(f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CASE WHEN o_orderdate <  {_CUPED_SPLIT}
                       THEN CAST(o_totalprice * 100 AS DECIMAL(18,0)) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN o_orderdate >= {_CUPED_SPLIT}
                       THEN CAST(o_totalprice * 100 AS DECIMAL(18,0)) ELSE 0 END)
              AS BIGINT) AS y
  FROM orders_cuped_v GROUP BY o_custkey),
armed AS (
  SELECT cust, x, y,
         CASE WHEN CAST(conv(substring(md5(concat('cuped',
                   CAST(cust AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0
              THEN 'control' ELSE 'treatment' END AS arm
  FROM per_cust),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx
  FROM armed),
t AS (
  SELECT n, sx,
         div((CAST(n AS DECIMAL(38,0)) * sxy
              - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))) * 1000000,
             CAST(n AS DECIMAL(38,0)) * sxx
              - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))) AS theta_ppm
  FROM g),
a AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(x) AS BIGINT) AS x_sum_cents, CAST(sum(y) AS BIGINT) AS y_sum_cents
  FROM armed GROUP BY arm)
SELECT a.arm, a.n_units, a.x_sum_cents, a.y_sum_cents, t.theta_ppm,
       CAST(a.y_sum_cents AS DOUBLE) / (100.0 * a.n_units) AS mean_y,
       CAST(a.y_sum_cents AS DOUBLE) / (100.0 * a.n_units)
         - (CAST(t.theta_ppm AS DOUBLE) / 1000000.0)
           * (CAST(a.x_sum_cents AS DOUBLE) / (100.0 * a.n_units)
              - CAST(t.sx AS DOUBLE) / (100.0 * t.n)) AS mean_y_cuped
FROM a CROSS JOIN t
""")


@register(
    "analytics_survival_km",
    oracle="""
WITH RECURSIVE
per AS (
  SELECT o_custkey, min(o_orderdate) AS first_d, max(o_orderdate) AS last_d
  FROM orders GROUP BY o_custkey
),
study AS (SELECT max(last_d) AS study_end FROM per),
subj AS (
  SELECT CASE WHEN date_diff('day', last_d, study_end) > 365 THEN 1 ELSE 0 END AS ev,
         CASE WHEN date_diff('day', last_d, study_end) > 365
              THEN date_diff('day', first_d, last_d)
              ELSE date_diff('day', first_d, study_end) END AS dur
  FROM per, study
),
agg AS (
  SELECT CAST(dur AS BIGINT) AS t, CAST(sum(ev) AS BIGINT) AS d,
         CAST(sum(1 - ev) AS BIGINT) AS c
  FROM subj GROUP BY dur
),
tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM agg),
idx AS (
  SELECT t, d, c, row_number() OVER (ORDER BY t) AS i,
         CAST(n - coalesce(sum(d + c) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS n_risk
  FROM agg, tot
),
km AS (
  SELECT i, t, d, c, n_risk,
         CASE WHEN d > 0 THEN CAST(1000000 * (n_risk - d) // n_risk AS BIGINT)
              ELSE CAST(1000000 AS BIGINT) END AS s
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.i, x.t, x.d, x.c, x.n_risk,
         CASE WHEN x.d > 0 THEN CAST(k.s * (x.n_risk - x.d) // x.n_risk AS BIGINT)
              ELSE k.s END
  FROM km k JOIN idx x ON x.i = k.i + 1
)
SELECT t AS t_days, n_risk, d AS d_events, c AS c_censored, s AS surv_ppm
FROM km WHERE d > 0
""",
    doc="Kaplan-Meier survival curve for customer churn (the published "
    "product-limit estimator): subjects are customers, duration = days "
    "from first order to last order (churn event: no activity in the "
    "study's final 365 days) or to study end (censored).  S(t) is the "
    "sequential product PROD(1 - d_t/n_t) pinned as an integer-ppm "
    "truncating-division recurrence — s' = s*(n-d) div n — so both "
    "engines replay the identical integer sequence (the HITS/pagerank "
    "discipline; no float product ordering can drift).  Spark reduces "
    "orders to one row per customer (one partial-agg shuffle), then to "
    "the O(distinct-durations) KM grid — bounded by the calendar span "
    "(~2.4k rows) REGARDLESS of fact volume — and replays the "
    "recurrence in a single-group applyInPandas over that reduced grid "
    "(documented: the grid, not the data, is the sequential grain; "
    "at-risk counts come from a cumulative window, not a rescan). "
    "Oracle = the identical recurrence as a DuckDB recursive CTE. "
    "Rows emitted at event times only, with at-risk/event/censor counts "
    "so the curve is audit-ready (the clinical-table convention).",
    tags=("analytics", "timeseries"),
)
def analytics_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_d"), F.max("o_orderdate").alias("last_d"))
    )
    study = per.agg(F.max("last_d").alias("study_end"))
    subj = per.crossJoin(F.broadcast(study)).select(
        F.when(F.datediff("study_end", "last_d") > 365, 1).otherwise(0).alias("ev"),
        F.when(
            F.datediff("study_end", "last_d") > 365,
            F.datediff("last_d", "first_d"),
        )
        .otherwise(F.datediff("study_end", "first_d"))
        .alias("dur"),
    )
    agg = subj.groupBy(F.col("dur").cast("bigint").alias("t")).agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )

    def km(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        ts = [int(x) for x in pdf["t"]]
        ds = [int(x) for x in pdf["d"]]
        cs = [int(x) for x in pdf["c"]]
        n = sum(ds) + sum(cs)
        out = {"t_days": [], "n_risk": [], "d_events": [], "c_censored": [],
               "surv_ppm": []}
        s, at_risk = 1_000_000, n
        for t, d, c in zip(ts, ds, cs):
            if d > 0:
                s = s * (at_risk - d) // at_risk
                out["t_days"].append(t)
                out["n_risk"].append(at_risk)
                out["d_events"].append(d)
                out["c_censored"].append(c)
                out["surv_ppm"].append(s)
            at_risk -= d + c
        return pd.DataFrame(out)

    return (
        agg.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            km,
            schema="t_days long, n_risk long, d_events long, c_censored long, "
            "surv_ppm long",
        )
    )


_RATIO_CORE_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(count(*) AS BIGINT) AS n_ord,
         CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS y_dol
  FROM {orders} GROUP BY o_custkey),
armed AS (
  SELECT cust, n_ord, y_dol,
         CASE WHEN {hash_expr} % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm
  FROM per_cust),
g AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS nu,
         CAST(sum(y_dol) AS BIGINT) AS sy, CAST(sum(n_ord) AS BIGINT) AS sn,
         sum(CAST(y_dol AS DECIMAL(19,0)) * CAST(y_dol AS DECIMAL(19,0))) AS syy,
         sum(CAST(n_ord AS DECIMAL(19,0)) * CAST(n_ord AS DECIMAL(19,0))) AS snn,
         sum(CAST(y_dol AS DECIMAL(19,0)) * CAST(n_ord AS DECIMAL(19,0))) AS syn
  FROM armed GROUP BY arm),
d AS (
  SELECT arm, nu, sy, sn,
         CAST(sy AS DOUBLE) / CAST(sn AS DOUBLE) AS ratio,
         CAST(sn AS DOUBLE) / CAST(nu AS DOUBLE) AS mean_n,
         (CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(nu AS DOUBLE))
           / CAST(nu - 1 AS DOUBLE) AS vy,
         (CAST(snn AS DOUBLE)
            - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nu AS DOUBLE))
           / CAST(nu - 1 AS DOUBLE) AS vn,
         (CAST(syn AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nu AS DOUBLE))
           / CAST(nu - 1 AS DOUBLE) AS cyn
  FROM g),
s AS (
  SELECT arm, nu, sn AS n_orders, sy AS revenue_dollars, ratio,
         sqrt((vy + ratio * ratio * vn - 2.0 * ratio * cyn)
              / CAST(nu AS DOUBLE)) / mean_n AS se
  FROM d)
SELECT arm, nu AS n_units, n_orders, revenue_dollars, ratio, se,
       ratio - 1.96 * se AS ci_lo, ratio + 1.96 * se AS ci_hi
FROM s"""

_RATIO_HASH_DUCK = ("CAST(CAST(concat('0x', substr(md5(concat('cuped', "
                    "CAST(cust AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT)")
_RATIO_HASH_SPARK = ("CAST(conv(substring(md5(concat('cuped', "
                     "CAST(cust AS STRING))), 1, 15), 16, 10) AS BIGINT)")


@register(
    "analytics_ratio_delta_ci",
    oracle=_RATIO_CORE_SQL.format(orders="orders", hash_expr=_RATIO_HASH_DUCK),
    doc="Delta-method confidence interval for a RATIO metric (revenue "
    "per order) with customer-level clustering — the experimentation "
    "readout naive per-row variance gets WRONG because orders within a "
    "customer are correlated (the published linearization: var(Y/N) ~ "
    "(var_y + R^2 var_n - 2R cov)/(n mean_n^2) over cluster totals).  "
    "Shares the CUPED arm assignment (same seeded md5), truncates "
    "revenue to integer dollars via explicit floor() — pinned because "
    "Spark's double->bigint CAST truncates while DuckDB's ROUNDS. "
    "Second-moment sums (syy/snn/syn) cast each factor to "
    "DECIMAL(19,0) BEFORE the multiply: per-customer y_dol^2 terms "
    "summed over 1e7+ customers exceed 2^63 around sf50-100, where "
    "non-ANSI Spark would wrap silently while DuckDB errors — the "
    "DECIMAL(38,0) product+sum is exact on both engines at any SF "
    "(worst case at extreme scale is a 1-ulp decimal->double cast "
    "divergence, never a wrong integer); the variance algebra runs in "
    "doubles derived from exact sums with the IDENTICAL literal "
    "expression on both engines (one cast per sum, pinned association, "
    "correctly-rounded sqrt) — deliberately unrounded, the geo "
    "discipline.  Scale posture: one custkey partial-agg shuffle to "
    "cluster totals, one 2-group moment agg; a single fact pass.",
    tags=("analytics",),
)
def analytics_ratio_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ratio_v")
    return spark.sql(
        _RATIO_CORE_SQL.format(orders="orders_ratio_v", hash_expr=_RATIO_HASH_SPARK)
    )


@register(
    "analytics_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), t AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
), tot AS (
  SELECT prev_type, sum(n) AS row_total FROM t GROUP BY prev_type
)
SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n,
       CAST(t.n * 1000000 // tot.row_total AS BIGINT) AS p_ppm
FROM t JOIN tot USING (prev_type)
ORDER BY t.prev_type, t.next_type
""",
    doc="First-order Markov transition matrix over user event journeys: "
    "each user's stream is ordered by (ts, event_id) — the journey "
    "discipline analytics_pattern_match_journeys established — and every "
    "consecutive (prev_type -> next_type) pair is counted corpus-wide, "
    "with the row-conditional transition probability in exact integer "
    "ppm (floor division on both engines).  This is the behavioral "
    "model behind next-action prediction, anomalous-session scoring, "
    "and journey simulation — the aggregate complement of the "
    "pattern-match (which finds specific paths) and funnel (which fixes "
    "the path a priori) operators.  Scale: the lag window partitions by "
    "user_id (millions of independent series — the parallelism grain is "
    "the user, never the clock), the transition count collapses to "
    "|types|^2 rows with map-side partials, and the row-total join is "
    "against a <=|types|-row frame that AQE broadcasts; nothing in the "
    "plan grows faster than the event scan.",
    tags=("analytics",),
)
def analytics_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        t.join(tot, "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("bigint").alias("n"),
            F.expr("div(n * 1000000, row_total)").cast("bigint").alias("p_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "events_forecast_backtest",
    oracle="""
WITH grid AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n,
         lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS prev,
         lag(cents, 7) OVER (PARTITION BY event_type ORDER BY day) AS season
  FROM grid
), m AS (
  SELECT event_type,
         CAST(max(n) AS BIGINT) AS n_days,
         CAST(count(*) FILTER (t > n - 7) AS BIGINT) AS n_holdout,
         CAST(sum(CASE WHEN t > n - 7 THEN abs(cents - season) END)
              AS BIGINT) AS sae_cents,
         CAST(count(*) FILTER (t <= n - 7 AND prev IS NOT NULL)
              AS BIGINT) AS n_scale,
         CAST(sum(CASE WHEN t <= n - 7 AND prev IS NOT NULL
                       THEN abs(cents - prev) END) AS BIGINT) AS scale_cents
  FROM idx GROUP BY event_type
)
SELECT event_type, n_days, n_holdout, sae_cents, scale_cents,
       CAST(CAST(sae_cents AS HUGEINT) * n_scale * 1000000
            // (CAST(n_holdout AS HUGEINT) * scale_cents) AS BIGINT)
         AS mase_ppm
FROM m ORDER BY event_type
""",
    doc="Forecast backtest with exact integer scoring: per event type, "
    "the daily cent grid is split into train and a 7-day holdout (the "
    "last 7 grid days by rank), each holdout day is forecast by "
    "SEASONAL NAIVE (the value 7 grid days earlier — always a train "
    "observation for a 7-day holdout), and accuracy is reported as "
    "MASE in exact integer ppm: (holdout MAE) / (train one-step naive "
    "MAE), the scale-free benchmark metric every forecast evaluation "
    "starts from (Hyndman-Koehler).  MASE < 1e6 ppm beats the naive "
    "baseline.  All error sums are BIGINT cents; the ratio multiplies "
    "through 128-bit intermediates (DECIMAL(38,0) / HUGEINT) with "
    "truncating division — both engines verified truncate-toward-zero "
    "(the ab_cuped discipline), so no float enters the metric.  This "
    "is the evaluation harness next to the forecasters "
    "(events_forecast_holt / _holt_winters): they produce predictions, "
    "this scores a prediction rule against ground truth without "
    "leaking holdout data into the scale term.  Scale: one partial-agg "
    "shuffle reduces facts to the O(types x days) grid; the lag "
    "windows and the final rollup run on that reduced grid — fact "
    "volume never reaches a window.",
    tags=("analytics", "timeseries"),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    grid = (
        e.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    idx = grid.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("t"),
        F.count("*").over(wall).alias("n"),
        F.lag("cents").over(w).alias("prev"),
        F.lag("cents", 7).over(w).alias("season"),
    )
    hold = F.col("t") > F.col("n") - 7
    train_step = (F.col("t") <= F.col("n") - 7) & F.col("prev").isNotNull()
    m = idx.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(hold.cast("long")).cast("bigint").alias("n_holdout"),
        F.sum(F.when(hold, F.abs(F.col("cents") - F.col("season"))))
        .cast("bigint")
        .alias("sae_cents"),
        F.sum(train_step.cast("long")).cast("bigint").alias("n_scale"),
        F.sum(F.when(train_step, F.abs(F.col("cents") - F.col("prev"))))
        .cast("bigint")
        .alias("scale_cents"),
    )
    return m.select(
        "event_type",
        "n_days",
        "n_holdout",
        "sae_cents",
        "scale_cents",
        F.expr(
            "CAST(div(CAST(sae_cents AS DECIMAL(38,0)) * n_scale * 1000000, "
            "CAST(n_holdout AS DECIMAL(38,0)) * scale_cents) AS BIGINT)"
        ).alias("mase_ppm"),
    ).orderBy("event_type")


@register(
    "analytics_top_paths",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS c,
         lag(event_type) OVER w AS b,
         lag(event_type, 2) OVER w AS a
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), p AS (
  SELECT a || ' > ' || b || ' > ' || c AS path
  FROM seq WHERE a IS NOT NULL
)
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY path ORDER BY n DESC, path LIMIT 20
""",
    doc="Top user paths (depth-3 journey windows): every consecutive "
    "event-type triple in each user's (ts, event_id)-ordered stream, "
    "counted corpus-wide, top-20 by frequency — the 'most common paths' "
    "product-analytics view that complements "
    "analytics_markov_transitions (first-order aggregate) and "
    "analytics_pattern_match_journeys (fixed-pattern search) with the "
    "empirical path-frequency ranking.  Scale: the two lag windows "
    "share ONE user_id shuffle; triples collapse to at most |types|^3 "
    "rows with map-side partials; top-20 is TakeOrdered, never a "
    "global sort.",
    tags=("analytics",),
)
def analytics_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("c"),
        F.lag("event_type").over(w).alias("b"),
        F.lag("event_type", 2).over(w).alias("a"),
    ).filter(F.col("a").isNotNull())
    return (
        seq.select(F.concat_ws(" > ", "a", "b", "c").alias("path"))
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


@register(
    "analytics_subsequence_support",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS a,
         lead(event_type, 1) OVER w AS b1,
         lead(event_type, 2) OVER w AS b2,
         lead(event_type, 3) OVER w AS b3,
         lead(event_type, 4) OVER w AS b4
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), occ AS (
  SELECT user_id, a, b1 AS b FROM seq WHERE b1 IS NOT NULL
  UNION ALL SELECT user_id, a, b2 FROM seq WHERE b2 IS NOT NULL
  UNION ALL SELECT user_id, a, b3 FROM seq WHERE b3 IS NOT NULL
  UNION ALL SELECT user_id, a, b4 FROM seq WHERE b4 IS NOT NULL
), per_user AS (
  SELECT a, b, user_id, CAST(count(*) AS BIGINT) AS k
  FROM occ GROUP BY a, b, user_id
)
SELECT a, b, CAST(sum(k) AS BIGINT) AS n_occ,
       CAST(count(*) AS BIGINT) AS n_users
FROM per_user GROUP BY a, b
""",
    doc="Gap-bounded sequential-pattern support (PrefixSpan-style length-2 "
    "patterns): for every ordered event-type pair (a -> b) where b occurs "
    "1-4 positions after a in the same user's (ts, event_id)-ordered "
    "journey, the corpus-wide occurrence count and the user support "
    "(distinct users exhibiting the pattern at least once) — the "
    "sequence-mining counterpart to analytics_markov_transitions "
    "(adjacent-only) and analytics_top_paths (contiguous triples): "
    "skip-gram patterns survive interleaved noise events that break "
    "contiguous path counts.  Scale: the four lead() columns share ONE "
    "user_id window shuffle (no self-join — the gap bound G is a "
    "constant column fan-out of G, not a join blow-up); occurrences "
    "pre-aggregate per (a, b, user) with map-side partials before the "
    "|types|^2-row support count, so the exact COUNT(DISTINCT user) "
    "never shuffles raw occurrence rows twice.",
    tags=("analytics",),
)
def analytics_subsequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("a"),
        *[F.lead("event_type", d).over(w).alias(f"b{d}") for d in (1, 2, 3, 4)],
    )
    occ = None
    for d in (1, 2, 3, 4):
        part = seq.filter(F.col(f"b{d}").isNotNull()).select(
            "user_id", "a", F.col(f"b{d}").alias("b")
        )
        occ = part if occ is None else occ.unionByName(part)
    per_user = occ.groupBy("a", "b", "user_id").agg(
        F.count("*").cast("bigint").alias("k")
    )
    return per_user.groupBy("a", "b").agg(
        F.sum("k").cast("bigint").alias("n_occ"),
        F.count("*").cast("bigint").alias("n_users"),
    )


@register(
    "analytics_new_returning_users",
    oracle="""
WITH fs AS (
  SELECT user_id, min(date_trunc('day', ts)) AS first_day
  FROM events GROUP BY user_id
), du AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
)
SELECT du.day,
       CAST(count(*) AS BIGINT) AS dau,
       CAST(count(*) FILTER (WHERE du.day = fs.first_day) AS BIGINT) AS new_users,
       CAST(count(*) FILTER (WHERE du.day > fs.first_day) AS BIGINT)
         AS returning_users
FROM du JOIN fs USING (user_id)
GROUP BY du.day
""",
    doc="Daily active users split into new vs returning (first-seen day "
    "per user) — the acquisition-vs-retention headline metric next to "
    "cohort_retention (which needs a cohort matrix; this is the daily "
    "scalar product teams chart). Exact counts, no floats. Scale: ONE "
    "user_id shuffle serves both the first-seen min and the per-day "
    "presence dedup (same key), then the presence rows join their "
    "user's first day on the already-partitioned key and collapse to "
    "the day grid with map-side partials — no window, no second fact "
    "scan; at 100 TB the presence dedup is the cost and it is exactly "
    "one exchange.",
    tags=("analytics",),
)
def analytics_new_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    e = load_events(spark, sf_dir).select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    fs = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    du = e.distinct()
    return (
        du.join(fs, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("dau"),
            F.count_if(F.col("day") == F.col("first_day"))
            .cast("bigint")
            .alias("new_users"),
            F.count_if(F.col("day") > F.col("first_day"))
            .cast("bigint")
            .alias("returning_users"),
        )
    )


_SRM_CRIT_PPM = 3841459  # chi-square(1df) critical value at alpha=0.05, in ppm


@register(
    "analytics_experiment_srm_check",
    oracle=f"""
WITH assign AS (
  SELECT c_custkey,
         CAST(md5(concat('srm', CAST(c_custkey AS VARCHAR))) AS VARCHAR) AS h
  FROM customer
), arms AS (
  SELECT 'exp_fair' AS experiment,
         CASE WHEN (CAST(CONCAT('0x', substr(h, 1, 15)) AS BIGINT)) % 100 < 50
              THEN 1 ELSE 0 END AS is_control
  FROM assign
  UNION ALL
  SELECT 'exp_mild',
         CASE WHEN (CAST(CONCAT('0x', substr(h, 1, 15)) AS BIGINT)) % 100 < 48
              THEN 1 ELSE 0 END
  FROM assign
  UNION ALL
  SELECT 'exp_bad',
         CASE WHEN (CAST(CONCAT('0x', substr(h, 1, 15)) AS BIGINT)) % 100 < 40
              THEN 1 ELSE 0 END
  FROM assign
), g AS (
  SELECT experiment,
         CAST(sum(is_control) AS BIGINT) AS n_c,
         CAST(count(*) - sum(is_control) AS BIGINT) AS n_t
  FROM arms GROUP BY experiment
)
SELECT experiment, n_c, n_t,
       CAST(CAST((n_c - n_t) AS HUGEINT) * (n_c - n_t) * 1000000
            // (n_c + n_t) AS BIGINT) AS chi2_ppm,
       (CAST((n_c - n_t) AS HUGEINT) * (n_c - n_t) * 1000000
        // (n_c + n_t)) > {_SRM_CRIT_PPM} AS srm_detected
FROM g
""",
    doc="Sample-ratio-mismatch guardrail (the first sanity check every "
    "experimentation platform runs before reading an A/B result): for "
    "each experiment's deterministic md5 assignment, the chi-square "
    "statistic against the planned 50/50 split. For two equal-share "
    "arms the statistic collapses algebraically to (n_c - n_t)^2 / n, "
    "so the whole test is exact 128-bit integer arithmetic in ppm "
    "(floor((d^2 * 1e6)/n) vs the 3.841459 alpha=0.05 critical value "
    "as the integer 3841459) — no float chi-square anywhere, flags "
    "engine-identical. Three simulated experiments share one "
    "assignment-hash scan: a fair 50/50, a mild 48/52 (detected only "
    "once n is large enough — the power property, visible across scale "
    "factors), and a broken 40/60. Scale: pure narrow map + one "
    "3-group partial-agg rollup; no join, no window.",
    tags=("analytics",),
)
def analytics_experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.md5(F.concat(F.lit("srm"), F.col("c_custkey").cast("string"))).alias("h")
    )
    bucket = F.conv(F.substring("h", 1, 15), 16, 10).cast("bigint") % 100
    arms = None
    for name, share in (("exp_fair", 50), ("exp_mild", 48), ("exp_bad", 40)):
        part = c.select(
            F.lit(name).alias("experiment"),
            F.when(bucket < share, 1).otherwise(0).alias("is_control"),
        )
        arms = part if arms is None else arms.unionByName(part)
    g = arms.groupBy("experiment").agg(
        F.sum("is_control").cast("bigint").alias("n_c"),
        (F.count("*") - F.sum("is_control")).cast("bigint").alias("n_t"),
    )
    d = F.col("n_c") - F.col("n_t")
    chi2 = F.expr(
        "CAST(div(CAST(n_c - n_t AS DECIMAL(38,0)) * (n_c - n_t) * 1000000,"
        " n_c + n_t) AS BIGINT)"
    )
    return g.select(
        "experiment",
        "n_c",
        "n_t",
        chi2.alias("chi2_ppm"),
        (chi2 > _SRM_CRIT_PPM).alias("srm_detected"),
    )


@register(
    "analytics_power_mde",
    oracle="""
WITH pc AS (
  SELECT o.o_custkey AS cust, any_value(c.c_mktsegment) AS seg,
         CAST(sum(CAST(o.o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT) AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey
), g AS (
  SELECT seg, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s,
         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS sq
  FROM pc GROUP BY seg
)
SELECT seg, n, s AS sum_cents,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
       CAST(2.801585 AS DOUBLE)
         * sqrt(((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                * (CAST(4 AS DOUBLE) / CAST(n AS DOUBLE))) AS mde_abs_cents
FROM g
""",
    doc="Experiment power planning — minimum detectable effect per "
    "market segment at 80% power / 5% two-sided alpha with a 50/50 "
    "split: MDE = (z_0.975 + z_0.80) * sqrt(var * 4/n), the third leg "
    "of the experimentation suite (SRM guardrail, CUPED readout, and "
    "now the before-you-launch sizing check). Exactness discipline: "
    "the randomization unit is the customer, per-unit spend reduces to "
    "exact integer cents, the (n, S, S^2) moments accumulate in "
    "64/128-bit integers, and ONLY the final expression drops to "
    "doubles — every double op (cast, *, /, sqrt) is IEEE "
    "correctly-rounded over identical operand trees on both engines, "
    "so the unrounded outputs are bit-identical (the geo-family rule; "
    "the z constant is the same literal cast both sides). Scale: one "
    "custkey partial-agg shuffle + a broadcast dim join + a 5-row "
    "rollup — a single fact pass at any SF.",
    tags=("analytics",),
)
def analytics_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pc = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.any_value("c_mktsegment").alias("seg"),
            F.sum((F.col("o_totalprice") * 100).cast("decimal(18,0)"))
            .cast("bigint")
            .alias("y"),
        )
    )
    g = pc.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .alias("sq"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    var = (nd * F.col("sq").cast("double") - sd * sd) / (
        nd * (F.col("n") - 1).cast("double")
    )
    return g.select(
        "seg",
        "n",
        F.col("s").alias("sum_cents"),
        (sd / nd).alias("mean_cents"),
        (
            F.lit(2.801585).cast("double")
            * F.sqrt(var * (F.lit(4).cast("double") / nd))
        ).alias("mde_abs_cents"),
    )


_MIG_SPLIT = "'1998-07-01'"
_MIG_BAND = (
    "CASE WHEN {c} = 0 THEN 'none' WHEN {c} < 80000000 THEN 'low' "
    "WHEN {c} < 160000000 THEN 'mid' ELSE 'high' END"
)


@register(
    "analytics_value_migration_matrix",
    oracle=f"""
WITH pc AS (
  SELECT c.c_custkey AS cust,
         CAST(coalesce(sum(CASE WHEN o.o_orderdate < {_MIG_SPLIT}
                  THEN CAST(o.o_totalprice * 100 AS DECIMAL(18,0)) END), 0)
              AS BIGINT) AS h1,
         CAST(coalesce(sum(CASE WHEN o.o_orderdate >= {_MIG_SPLIT}
                  THEN CAST(o.o_totalprice * 100 AS DECIMAL(18,0)) END), 0)
              AS BIGINT) AS h2
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT {_MIG_BAND.format(c="h1")} AS band_from,
       {_MIG_BAND.format(c="h2")} AS band_to,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(h2 - h1) AS BIGINT) AS net_cents_delta
FROM pc GROUP BY 1, 2
""",
    doc="Customer value-migration matrix (the CRM movement report next "
    "to segment_rfm's static segmentation): each customer's exact spend "
    "cents in the two halves of the order timeline maps to a fixed "
    "value band (none/low/mid/high — fixed thresholds, deliberately "
    "NOT quantiles, so band membership is rerun-stable and needs no "
    "global rank), and the 4x4 matrix counts who moved where, with the "
    "net cent delta per cell. Customers with no orders in a half land "
    "in 'none', so churn (high -> none) and acquisition (none -> any) "
    "are cells of the same matrix. Exact integers end to end. Scale: "
    "one custkey partial-agg shuffle + a 16-row rollup; the dim left "
    "join keeps zero-order customers and broadcasts nothing big.",
    tags=("analytics",),
)
def analytics_value_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders")
    split = F.lit("1998-07-01").cast("timestamp")
    pc = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy(F.col("c_custkey").alias("cust"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderdate") < split,
                        (F.col("o_totalprice") * 100).cast("decimal(18,0)"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("h1"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderdate") >= split,
                        (F.col("o_totalprice") * 100).cast("decimal(18,0)"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("h2"),
        )
    )
    band = lambda col: (
        F.when(F.col(col) == 0, "none")
        .when(F.col(col) < 80000000, "low")
        .when(F.col(col) < 160000000, "mid")
        .otherwise("high")
    )
    return pc.groupBy(
        band("h1").alias("band_from"), band("h2").alias("band_to")
    ).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum(F.col("h2") - F.col("h1")).cast("bigint").alias("net_cents_delta"),
    )


@register(
    "events_inter_arrival_stats",
    oracle="""
WITH g AS (
  SELECT user_id,
         date_diff('second', lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id), ts)
           AS gap_s
  FROM events
)
SELECT user_id,
       CAST(count(gap_s) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_s), 6)
         AS p50_gap_s,
       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_s), 6)
         AS p90_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY user_id
""",
    doc="Per-user inter-arrival gap statistics (engagement cadence: how "
    "often does a user come back) — min/max and interpolated p50/p90 of "
    "the second-granular gaps between consecutive events, the "
    "behavioral input to churn models and to sessionize_events' gap "
    "threshold choice. Gaps are exact integer seconds (date_diff on "
    "the ordered lag); interpolated percentiles over integers are "
    "engine-identical doubles (the agg_percentiles precedent), rounded "
    "at 6dp. Scale: the lag window and the per-user rollup share ONE "
    "user_id exchange; output is one row per active user.",
    tags=("analytics", "timeseries"),
)
def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    e = load_events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias(
            "gap_s"
        ),
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 6).alias("p50_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.9)"), 6).alias("p90_gap_s"),
    )


@register(
    "analytics_cohort_ltv",
    oracle="""
WITH first_m AS (
  SELECT o_custkey AS cust, min(date_trunc('month', o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey
), rev AS (
  SELECT f.cohort,
         date_diff('month', f.cohort, date_trunc('month', o.o_orderdate))
           AS age_m,
         CAST(sum(CAST(o.o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT)
           AS cents
  FROM orders o JOIN first_m f ON f.cust = o.o_custkey
  GROUP BY 1, 2
), sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_n FROM first_m GROUP BY 1
)
SELECT r.cohort, CAST(r.age_m AS BIGINT) AS age_m, s.cohort_n,
       CAST(sum(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.age_m)
            AS BIGINT) AS cum_cents,
       CAST(sum(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.age_m)
            // s.cohort_n AS BIGINT) AS ltv_cents_per_user
FROM rev r JOIN sizes s USING (cohort)
""",
    doc="Cohort LTV curves — cumulative revenue per acquisition cohort by "
    "months-since-first-order, per-user LTV as exact truncated "
    "cents-per-user (the finance counterpart of cohort_retention's "
    "activity matrix: same cohort axis, money instead of presence). "
    "Exact integer cents end to end; the running sum is a window over "
    "the (cohort, age) GRID, not raw orders. Scale: one custkey "
    "shuffle derives cohorts, facts join the broadcast-size cohort "
    "map and collapse to the grid with map-side partials; the window "
    "runs on O(cohorts x months) rows regardless of fact count.",
    tags=("analytics",),
)
def analytics_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    first_m = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    rev = (
        o.join(first_m, o["o_custkey"] == first_m["cust"])
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.col("cohort")
            )
            .cast("long")
            .alias("age_m"),
        )
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(18,0)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    sizes = first_m.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_n")
    )
    w = Window.partitionBy("cohort").orderBy("age_m")
    return (
        rev.join(F.broadcast(sizes), "cohort")
        .withColumn("cum_cents", F.sum("cents").over(w).cast("bigint"))
        .select(
            "cohort",
            F.col("age_m").cast("bigint").alias("age_m"),
            "cohort_n",
            "cum_cents",
            F.expr("CAST(div(cum_cents, cohort_n) AS BIGINT)").alias(
                "ltv_cents_per_user"
            ),
        )
    )


@register(
    "analytics_diff_in_diff",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN CAST(o_totalprice * 100 AS DECIMAL(18,0)) ELSE 0 END)
              AS BIGINT) AS pre_c,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                  THEN CAST(o_totalprice * 100 AS DECIMAL(18,0)) ELSE 0 END)
              AS BIGINT) AS post_c
  FROM orders GROUP BY o_custkey
), armed AS (
  SELECT pre_c, post_c,
         CASE WHEN CAST(CAST(concat('0x', substr(md5(concat('did',
                   CAST(cust AS VARCHAR))), 1, 15)) AS UBIGINT) % 2 AS BIGINT)
                   = 0
              THEN 'control' ELSE 'treatment' END AS arm
  FROM per_cust
), g AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pre_c) AS BIGINT) AS pre_sum,
         CAST(sum(post_c) AS BIGINT) AS post_sum,
         CAST(CAST(sum(post_c) AS HUGEINT) * 1000000 // count(*)
              - CAST(sum(pre_c) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
           AS delta_microcents
  FROM armed GROUP BY arm
)
SELECT g.arm, g.n, g.pre_sum, g.post_sum, g.delta_microcents,
       CAST(g.delta_microcents
            - min(CASE WHEN g.arm = 'control' THEN g.delta_microcents END)
              OVER () AS BIGINT) AS did_vs_control_microcents
FROM g
""",
    doc="Difference-in-differences readout — the fourth leg of the "
    "experimentation suite (SRM guardrail, power/MDE sizing, CUPED "
    "variance reduction, and now the quasi-experimental estimator for "
    "when randomization happened at a time boundary): deterministic "
    "md5 arms, exact pre/post cent sums per arm, per-arm delta of "
    "means in truncated microcents (the declared ppm-style "
    "quantization — each mean is cents*1e6 // n, both engines "
    "truncate toward zero), and DiD = each arm's delta minus the "
    "control arm's delta (0 for control by construction; the "
    "treatment row carries the estimate). Scale: one custkey "
    "partial-agg shuffle, a 2-row rollup, and a window over 2 rows.",
    tags=("analytics",),
)
def analytics_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    split = F.lit("1998-01-01").cast("timestamp")
    per_cust = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(
            F.when(
                F.col("o_orderdate") < split,
                (F.col("o_totalprice") * 100).cast("decimal(18,0)"),
            ).otherwise(F.lit(0).cast("decimal(18,0)"))
        )
        .cast("bigint")
        .alias("pre_c"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= split,
                (F.col("o_totalprice") * 100).cast("decimal(18,0)"),
            ).otherwise(F.lit(0).cast("decimal(18,0)"))
        )
        .cast("bigint")
        .alias("post_c"),
    )
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("did"), F.col("cust").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    g = (
        per_cust.withColumn("arm", arm)
        .groupBy("arm")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("pre_c").cast("bigint").alias("pre_sum"),
            F.sum("post_c").cast("bigint").alias("post_sum"),
        )
        .withColumn(
            "delta_microcents",
            F.expr(
                "CAST(div(CAST(post_sum AS DECIMAL(38,0)) * 1000000, n)"
                " - div(CAST(pre_sum AS DECIMAL(38,0)) * 1000000, n)"
                " AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy()
    ctrl = F.min(
        F.when(F.col("arm") == "control", F.col("delta_microcents"))
    ).over(w)
    return g.select(
        "arm",
        "n",
        "pre_sum",
        "post_sum",
        "delta_microcents",
        (F.col("delta_microcents") - ctrl).cast("bigint").alias(
            "did_vs_control_microcents"
        ),
    )


@register(
    "analytics_theil_sen_trend",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1
), idx AS (
  SELECT day, cents,
         CAST(date_diff('day', TIMESTAMP '2024-01-01', day) AS BIGINT) AS x
  FROM daily
), slopes AS (
  SELECT CAST((b.cents - a.cents) * 1000000 // (b.x - a.x) AS BIGINT)
           AS slope_ppm
  FROM idx a JOIN idx b ON b.x > a.x
), med AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(median(2 * slope_ppm) AS BIGINT) AS med2
  FROM slopes
)
SELECT n_pairs, med2 AS theil_sen_slope_2x_microcents_per_day FROM med
""",
    doc="Theil-Sen robust trend estimator over the daily revenue grid — "
    "the median of all pairwise slopes, insensitive to up to ~29% "
    "outlier days where the OLS slope (win_rolling_ols_slope) is not. "
    "Exactness: each pairwise slope quantizes to integer "
    "microcents/day by truncating division (the declared quantization "
    "— slopes are rationals with heterogeneous denominators, so a "
    "fixed-grid quantization is what makes a cross-engine-exact "
    "median possible), and the even-count median interpolation is "
    "made exact by the half-unit doubling trick (2*slope, the Hampel "
    "precedent). Scale: the pair join is over the REDUCED day grid "
    "(O(days^2) pairs, data-size-independent after the one fact "
    "rollup — 30 days here, ~2.4k at a decade of data: still tiny); "
    "facts themselves are touched once.",
    tags=("analytics", "timeseries"),
)
def analytics_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    e = load_events(spark, sf_dir)
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    idx = daily.select(
        "cents",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("timestamp"))
        .cast("bigint")
        .alias("x"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("b.x") > F.col("a.x")).select(
        F.expr(
            "CAST(div((b.cents - a.cents) * 1000000, b.x - a.x) AS BIGINT)"
        ).alias("slope_ppm")
    )
    return slopes.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr("CAST(percentile(2 * slope_ppm, 0.5) AS BIGINT)").alias(
            "theil_sen_slope_2x_microcents_per_day"
        ),
    )


@register(
    "events_slo_burn_rate",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
           AS n_err
  FROM events GROUP BY 1
), win AS (
  SELECT hour, n_total, n_err,
         CAST(sum(n_total) OVER w6 AS BIGINT) AS t6,
         CAST(sum(n_err) OVER w6 AS BIGINT) AS e6
  FROM hourly
  WINDOW w6 AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT hour, n_total, n_err, t6, e6,
       (n_err * 1000 * 10 > n_total * 144) AS fast_burn_1h,
       (e6 * 1000 > t6 * 60) AS slow_burn_6h,
       (n_err * 1000 * 10 > n_total * 144 AND e6 * 1000 > t6 * 60)
         AS page_alert
FROM win
""",
    doc="SLO error-budget burn-rate alerting (the Google SRE multi-"
    "window multi-burn-rate pattern for a 99.9% availability SLO): "
    "hourly error rates from the event stream, a 14.4x budget burn "
    "over 1 hour (fast) AND a 6x burn over 6 hours (slow) must BOTH "
    "fire to page — the two-window conjunction that kills both "
    "flappy-alert noise and slow-leak blindness. Exactness: with "
    "budget 0.1%, 'rate > 14.4 * budget' cross-multiplies to the "
    "pure integer predicate err*1000*10 > total*144 (and 6x to "
    "e6*1000 > t6*60) — no float rates anywhere, flags engine-"
    "identical. Scale: facts collapse to the hourly grid in one "
    "partial-agg shuffle; the rolling window runs on O(hours) rows, "
    "data-size-independent (the win_rolling_corr precedent).",
    tags=("analytics", "timeseries"),
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    e = load_events(spark, sf_dir)
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.count_if(F.col("event_type") == "error").cast("bigint").alias("n_err"),
    )
    w6 = Window.orderBy("hour").rowsBetween(-5, 0)
    win = hourly.select(
        "hour",
        "n_total",
        "n_err",
        F.sum("n_total").over(w6).cast("bigint").alias("t6"),
        F.sum("n_err").over(w6).cast("bigint").alias("e6"),
    )
    fast = F.col("n_err") * 1000 * 10 > F.col("n_total") * 144
    slow = F.col("e6") * 1000 > F.col("t6") * 60
    return win.select(
        "hour",
        "n_total",
        "n_err",
        "t6",
        "e6",
        fast.alias("fast_burn_1h"),
        slow.alias("slow_burn_6h"),
        (fast & slow).alias("page_alert"),
    )


@register(
    "events_apdex_score",
    oracle="""
WITH b AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT day, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE cents <= 5000) AS BIGINT) AS n_satisfied,
       CAST(count(*) FILTER (WHERE cents > 5000 AND cents <= 20000)
            AS BIGINT) AS n_tolerating,
       CAST((2 * count(*) FILTER (WHERE cents <= 5000)
             + count(*) FILTER (WHERE cents > 5000 AND cents <= 20000))
            * 1000000 // (2 * count(*)) AS BIGINT) AS apdex_ppm
FROM b GROUP BY day, event_type
""",
    doc="Apdex score per (day, event type) — the standardized "
    "user-satisfaction index ops teams chart next to SLO burn rates "
    "(events_slo_burn_rate): with threshold T and tolerance 4T on the "
    "cents-quantized measure, Apdex = (satisfied + tolerating/2) / n, "
    "cross-multiplied to the exact integer "
    "(2*sat + tol)*1e6 / (2*n) — no float ratio, truncation identical "
    "both engines. Scale: one partial+final rollup to the (day, type) "
    "grid; the three conditional counts fuse into the same aggregate "
    "pass (D9 discipline).",
    tags=("analytics", "timeseries"),
)
def events_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    e = load_events(spark, sf_dir)
    b = e.select(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    sat = F.count_if(F.col("cents") <= 5000)
    tol = F.count_if((F.col("cents") > 5000) & (F.col("cents") <= 20000))
    return b.groupBy("day", "event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        sat.cast("bigint").alias("n_satisfied"),
        tol.cast("bigint").alias("n_tolerating"),
        F.expr(
            "CAST(div((2 * count_if(cents <= 5000)"
            " + count_if(cents > 5000 AND cents <= 20000)) * 1000000,"
            " 2 * count(*)) AS BIGINT)"
        ).alias("apdex_ppm"),
    )


# Poisson(1) CDF in ppm, shared verbatim by both engines (the Benford
# discipline: neither engine evaluates exp/factorial) — P(X <= k) for
# k = 0..6; u_ppm >= 999916 draws multiplicity 7 (P ~ 8e-5, capped).
_BOOT_POISSON_CDF_PPM = (367879, 735758, 919698, 981011, 996340, 999405, 999916)
_BOOT_B = 64  # bootstrap replicates


def _boot_mult_sql(u: str) -> str:
    """CASE chain mapping a uniform ppm draw to a Poisson(1) multiplicity
    — identical text for Spark SQL and DuckDB."""
    whens = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_BOOT_POISSON_CDF_PPM)
    )
    return f"CASE {whens} ELSE 7 END"


# Keyed Lehmer (MINSTD) replicate stream, r14 verdict item 3: the old
# draw ran md5(concat(k,'-',r)) per (row, replicate) — 64x the scan's
# rows of string-concat + md5 + base-16 conv, ~230 ns/draw and the
# whole cost of the query.  xxhash64 was considered and REJECTED: Spark
# hashes the internal UnsafeRow encoding with a fixed seed and DuckDB
# has no equivalent, so the oracle could not mirror it.  Instead the
# md5-60-bit convention now seeds ONCE PER ROW (h = md5 of the row key,
# splittable-seed style) and each replicate draws from a two-step
# MINSTD Lehmer stream keyed by (h, r) — pure BIGINT arithmetic both
# engines evaluate bit-identically.  Overflow-safe in DuckDB's checked
# BIGINT: h < 2^60 and (r+1)*K <= 64*2.7e9 < 2^38 so the sum < 2^63;
# x < 2^31 so x*48271 < 2^47.  Modulo bias of the final % 1e6 is
# 2^31-1 mod 1e6 = 0.02% — immaterial for bootstrap multiplicities.
_BOOT_LEHMER_M = 2147483647  # 2^31 - 1 (Mersenne prime, MINSTD modulus)
_BOOT_LEHMER_A = 48271  # MINSTD multiplier (Park-Miller revised)
_BOOT_LEHMER_K = 2654435761  # 2^32 / golden ratio: replicate key spread


def _boot_u_sql(h: str, r: str) -> str:
    """Uniform ppm draw for (row-seed h, replicate r) — identical text
    for Spark SQL and DuckDB, fully parenthesized so both engines parse
    the same tree."""
    x0 = f"(({h} + ({r} + 1) * {_BOOT_LEHMER_K}) % {_BOOT_LEHMER_M})"
    x1 = f"(({x0} * {_BOOT_LEHMER_A}) % {_BOOT_LEHMER_M})"
    x2 = f"(({x1} * {_BOOT_LEHMER_A}) % {_BOOT_LEHMER_M})"
    return f"({x2} % 1000000)"


@register(
    "analytics_bootstrap_ci",
    oracle=f"""
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
         concat(CAST(l_orderkey AS VARCHAR), '-',
                CAST(l_linenumber AS VARCHAR)) AS k
  FROM lineitem
), seeded AS (
  SELECT flag, cents,
         CAST(CAST(concat('0x', substr(md5(k), 1, 15)) AS UBIGINT)
              AS BIGINT) AS h
  FROM base
), drawn AS (
  SELECT flag, cents, r.r,
         {_boot_mult_sql(_boot_u_sql("h", "r.r"))} AS m
  FROM seeded, UNNEST(range(0, {_BOOT_B})) AS r(r)
), rep AS (
  SELECT flag, r, CAST(sum(m) AS BIGINT) AS s_m,
         CAST(sum(m * cents) AS BIGINT) AS s_mx
  FROM drawn GROUP BY flag, r
), means AS (
  SELECT flag, r,
         CAST(CAST(s_mx AS HUGEINT) * 1000 // s_m AS BIGINT) AS mean_milli
  FROM rep WHERE s_m > 0
), ranked AS (
  SELECT flag, mean_milli,
         row_number() OVER (PARTITION BY flag
                            ORDER BY mean_milli, r) AS rk,
         count(*) OVER (PARTITION BY flag) AS b_eff
  FROM means
), point AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(CAST(sum(cents) AS HUGEINT) * 1000 // count(*) AS BIGINT)
           AS mean_milli
  FROM base GROUP BY flag
)
SELECT p.flag, p.n_rows, CAST(r2.b_eff AS BIGINT) AS b_eff,
       p.mean_milli,
       max(CASE WHEN r2.rk = 2 THEN r2.mean_milli END) AS ci_lo_milli,
       max(CASE WHEN r2.rk = 63 THEN r2.mean_milli END) AS ci_hi_milli
FROM point p JOIN ranked r2 USING (flag)
GROUP BY p.flag, p.n_rows, r2.b_eff, p.mean_milli
""",
    doc="Distributed Poisson bootstrap CI for the mean (the standard "
    "resampling trick at cluster scale — Chamandy et al.'s 'Estimating "
    f"Uncertainty for Massive Data Streams': per replicate r of "
    f"{_BOOT_B}, each row enters with multiplicity ~ Poisson(1) instead "
    "of a global n-out-of-n draw, so resampling needs no coordination "
    "and partial-aggregates map-side).  Draws are DETERMINISTIC under "
    "the splittable-seed convention: each row seeds ONCE with its "
    "md5-60-bit key hash (the KMV discipline), each replicate then "
    "draws u from a keyed two-step MINSTD Lehmer stream — pure BIGINT "
    "arithmetic both engines evaluate bit-identically (one md5 per ROW "
    "instead of per draw; see _boot_u_sql) — and u maps to a "
    "multiplicity via the hardcoded Poisson(1) CDF ppm table (no "
    "engine evaluates exp), so replicate means — exact integer "
    "milli-cents, truncating 128-bit division — and the "
    "(2.5%, 97.5%) order-statistic bounds hash EXACT cross-engine.  "
    "Per flag: row count, replicate count, point mean, and the CI "
    "bounds (2nd and 63rd order statistics of the 64 replicate means, "
    "tie-broken by replicate id).  Scale posture: the x64 replicate "
    "fan-out partial-aggregates to (flag, r) BEFORE any shuffle (one "
    "map-side-combinable rollup over facts x B); everything after runs "
    "on the B x |flags| = 192-row frame.",
    tags=("analytics",),
)
def analytics_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("k"),
    )
    # Fan the narrow base across cores BEFORE the x64 replicate explode:
    # the per-draw arithmetic runs per (row, replicate) — 64x the scan's
    # row count — and would otherwise execute entirely inside the scan
    # stage at the input's split parallelism (one parquet row group =
    # one core; measured 28.3 s -> see OPTIMIZATION_r14.md).  Hash-
    # partitioned on the unique row key k, so the spread is deterministic
    # and the draw values (and thus the CI bounds) are unchanged.
    base_wide = fan_out(base, "k")
    # one md5 per ROW (the splittable seed), then k is dropped — the x64
    # explode carries (flag, cents, h) only, and each draw is 4 BIGINT
    # ops instead of concat+md5+conv (r14 verdict item 3; explicit
    # BIGINT cast on conv() per the r8 ADVICE convention: conv returns
    # STRING and implicit coercion could silently become double)
    seeded = base_wide.select(
        "flag",
        "cents",
        F.expr("CAST(conv(substring(md5(k), 1, 15), 16, 10) AS BIGINT)").alias("h"),
    )
    drawn = seeded.withColumn(
        "r", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1)))
    ).withColumn("m", F.expr(_boot_mult_sql(_boot_u_sql("h", "r"))))
    rep = drawn.groupBy("flag", "r").agg(
        F.sum("m").cast("bigint").alias("s_m"),
        F.sum(F.col("m") * F.col("cents")).cast("bigint").alias("s_mx"),
    )
    means = rep.filter(F.col("s_m") > 0).select(
        "flag",
        "r",
        F.expr(
            "CAST(div(CAST(s_mx AS DECIMAL(38,0)) * 1000, s_m) AS BIGINT)"
        ).alias("mean_milli"),
    )
    wflag = Window.partitionBy("flag")
    ranked = means.select(
        "flag",
        F.col("mean_milli").alias("rep_mean_milli"),
        F.row_number()
        .over(wflag.orderBy("mean_milli", "r"))
        .alias("rk"),
        F.count("*").over(wflag).cast("bigint").alias("b_eff"),
    )
    point = base.groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr(
            "CAST(div(CAST(sum(cents) AS DECIMAL(38,0)) * 1000, count(*))"
            " AS BIGINT)"
        ).alias("mean_milli"),
    )
    return (
        point.join(ranked, "flag")
        .groupBy("flag", "n_rows", "b_eff", "mean_milli")
        .agg(
            F.max(F.when(F.col("rk") == 2, F.col("rep_mean_milli"))).alias(
                "ci_lo_milli"
            ),
            F.max(F.when(F.col("rk") == 63, F.col("rep_mean_milli"))).alias(
                "ci_hi_milli"
            ),
        )
    )


@register(
    "analytics_mann_kendall_trend",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1
), idx AS (
  SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', day) AS BIGINT) AS x,
         cents
  FROM daily
), s AS (
  SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM idx a JOIN idx b ON b.x > a.x
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM idx
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM idx GROUP BY cents)
  WHERE t > 1
)
SELECT n.n AS n_days, s.s_stat,
       CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS BIGINT)
         AS var18,
       CASE WHEN n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term > 0 THEN
         CAST(floor(
           CAST(CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                     WHEN s.s_stat < 0 THEN s.s_stat + 1 ELSE 0 END
                AS DOUBLE) * 1000000.0
           / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
                       AS DOUBLE) / 18.0)) AS BIGINT)
       END AS z_micro
FROM s CROSS JOIN n CROSS JOIN ties
""",
    doc="Mann-Kendall trend test over the daily revenue grid — the "
    "nonparametric significance companion to analytics_theil_sen_trend "
    "(same grid, same pair space): S = sum of pairwise sign(x_j - x_i) "
    "for i < j, the tie-corrected variance 18*Var = n(n-1)(2n+5) - "
    "sum_t t(t-1)(2t+5) (Kendall 1975), and the continuity-corrected "
    "z = (S -/+ 1)/sqrt(Var) in floor-micro units.  Exactness: S, n, "
    "and 18*Var are pure integers; z is BIGINT->DOUBLE casts through "
    "one divide and one sqrt — IEEE correctly-rounded, identical "
    "operand trees both engines (the cross-correlation discipline).  "
    "Scale: facts collapse once to the O(days) grid; the pair join is "
    "O(days^2) on DIMENSION-scale data (~2.4k days for a decade = ~3M "
    "sign evaluations, data-size-independent), the theil-sen posture.",
    tags=("analytics", "timeseries"),
)
def analytics_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    e = load_events(spark, sf_dir)
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    idx = daily.select(
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("timestamp"))
        .cast("bigint")
        .alias("x"),
        "cents",
    )
    a, b = idx.alias("a"), idx.alias("b")
    s = a.join(b, F.col("b.x") > F.col("a.x")).agg(
        F.sum(
            F.when(F.col("b.cents") > F.col("a.cents"), 1)
            .when(F.col("b.cents") < F.col("a.cents"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    n = idx.agg(F.count("*").cast("bigint").alias("n"))
    ties = (
        idx.groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    ).cast("bigint")
    s_corr = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            var18.alias("var18"),
            F.when(
                var18 > 0,
                F.floor(
                    s_corr.cast("double")
                    * F.lit(1000000.0)
                    / F.sqrt(var18.cast("double") / F.lit(18.0))
                ).cast("bigint"),
            ).alias("z_micro"),
        )
    )


@register(
    "events_peak_concurrency",
    oracle="""
WITH iv AS (
  SELECT event_type, epoch_us(ts) AS lo,
         epoch_us(ts) + CAST(round(value * 60000000, 0) AS BIGINT) AS hi
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
), bounds AS (
  SELECT event_type, lo AS us, CAST(1 AS BIGINT) AS delta FROM iv
  UNION ALL
  SELECT event_type, hi AS us, CAST(-1 AS BIGINT) AS delta FROM iv
), run AS (
  SELECT event_type, us, delta,
         CAST(sum(delta) OVER (PARTITION BY event_type
                               ORDER BY us, delta
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS conc
  FROM bounds
), pk AS (
  SELECT event_type, CAST(max(conc) AS BIGINT) AS peak FROM run
  GROUP BY event_type
)
SELECT r.event_type, p.peak AS peak_concurrency,
       CAST(min(r.us) AS BIGINT) AS peak_first_at_us,
       CAST(count(*) AS BIGINT) AS n_times_at_peak
FROM run r JOIN pk p ON p.event_type = r.event_type AND r.conc = p.peak
GROUP BY r.event_type, p.peak
""",
    doc="Peak concurrency per event type via the classic sweep-line: "
    "each activity interval contributes +1 at its start and -1 at its "
    "end, and the maximum of the running boundary sum is the largest "
    "number of simultaneously-open intervals — the capacity-planning "
    "readout (max concurrent sessions/streams) that windowed counts "
    "approximate but never answer exactly.  Tie semantics are pinned "
    "on BOTH engines by the (us, delta ASC) order: a -1 boundary "
    "processes before a +1 at the same microsecond, i.e. intervals "
    "are closed-open [lo, hi) and back-to-back intervals do not "
    "overlap.  Exactness: bounds are integer epoch micros (the "
    "join_range_interval convention), the running sum is exact "
    "integer, and the peak's first time / multiplicity come from one "
    "equi-join against the 3-row peak table.  Scale posture: the "
    "boundary multiset is 2x events but collapses through the "
    "per-type prefix sum of operators/rank.py prefix_sums (one range "
    "partition over the (type, us, delta) order) — never a per-type "
    "single-partition window over fact-scale boundaries; "
    "the peak rollup and join-back are |types|-row work.",
    tags=("analytics", "timeseries"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events
    from cobradb_spark.operators.rank import prefix_sums

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    dur = F.expr("CAST(round(value * 60000000, 0) AS BIGINT)")
    iv = ev.select("event_type", us.alias("lo"), (us + dur).alias("hi"))
    bounds = iv.select(
        "event_type", F.col("lo").alias("us"), F.lit(1).cast("bigint").alias("delta")
    ).unionAll(
        iv.select(
            "event_type", F.col("hi").alias("us"), F.lit(-1).cast("bigint").alias("delta")
        )
    )
    # per-type (us, delta) total order: delta ASC puts the -1 boundary
    # first at a tie (closed-open intervals) — the INCLUSIVE running
    # sum is the exclusive prefix + the row's delta
    run = prefix_sums(bounds, ["event_type"], ["us", "delta"], ["delta"]).select(
        "event_type",
        "us",
        (F.col("delta_before") + F.col("delta")).alias("conc"),
    )
    pk = run.groupBy("event_type").agg(F.max("conc").cast("bigint").alias("peak"))
    return (
        run.join(F.broadcast(pk), "event_type")
        .filter(F.col("conc") == F.col("peak"))
        .groupBy("event_type", F.col("peak").alias("peak_concurrency"))
        .agg(
            F.min("us").cast("bigint").alias("peak_first_at_us"),
            F.count("*").cast("bigint").alias("n_times_at_peak"),
        )
    )


@register(
    "analytics_price_elasticity",
    oracle="""
WITH g AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
), pts AS (
  SELECT flag,
         CAST(floor(ln(CAST(cents AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(floor(ln(CAST(qty AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM g WHERE cents > 0 AND qty > 0
), m AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx
  FROM pts GROUP BY flag
)
SELECT flag, n AS n_price_points,
       CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
            // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
         AS elasticity_micro,
       CAST(sx // n AS BIGINT) AS ln_price_bar_micro,
       CAST(sy // n AS BIGINT) AS ln_qty_bar_micro
FROM m WHERE n >= 3 AND n * sxx > CAST(sx AS HUGEINT) * sx
""",
    doc="Price elasticity of demand per return flag: the log-log OLS "
    "slope of total quantity on price over the observed price grid — "
    "elasticity ~ d ln(qty)/d ln(price), the pricing-analytics "
    "fundamental (|e| > 1 elastic, < 1 inelastic).  Exactness: the "
    "text_zipf_fit discipline — each grid point quantizes ln(price) / "
    "ln(qty) to floor-micro FIRST (exact integer input through one "
    "correctly-rounded libm call), so moments are 128-bit integers "
    "and the slope is one truncating rational; engines truncate "
    "negatives identically (pinned r8).  Degenerate flags (fewer than "
    "3 price points or zero price variance) drop via exact integer "
    "guards.  Scale posture: facts collapse once to the (flag, cents) "
    "demand grid (map-side combine); moments are a 3-row rollup of "
    "the grid — no window, no join.",
    tags=("analytics",),
)
def analytics_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    pts = g.filter((F.col("cents") > 0) & (F.col("qty") > 0)).select(
        "flag",
        F.floor(F.log(F.col("cents").cast("double")) * 1000000)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("qty").cast("double")) * 1000000)
        .cast("bigint")
        .alias("y"),
    )
    m = pts.groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
    )
    return (
        m.filter(
            (F.col("n") >= 3)
            & (
                F.col("n") * F.col("sxx")
                > F.col("sx").cast("decimal(19,0)") * F.col("sx")
            )
        )
        .select(
            "flag",
            F.col("n").alias("n_price_points"),
            F.expr(
                "CAST(div((n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000,"
                " n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"
            ).alias("elasticity_micro"),
            F.expr("CAST(div(sx, n) AS BIGINT)").alias("ln_price_bar_micro"),
            F.expr("CAST(div(sy, n) AS BIGINT)").alias("ln_qty_bar_micro"),
        )
    )


@register(
    "events_stl_strength",
    oracle=f"""
WITH grid AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS sum_cents,
         count(*) AS n_ticks
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, hour, sum_cents, n_ticks,
         CAST(sum_cents AS DOUBLE) / 100.0 / n_ticks AS observed,
         CAST(sum(sum_cents) OVER w AS DOUBLE) / 100.0
             / CAST(sum(n_ticks) OVER w AS DOUBLE) AS trend
  FROM grid
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {_STL_HALF - 1} PRECEDING
                        AND {_STL_HALF} FOLLOWING)
), d AS (
  SELECT event_type,
         CAST(floor((observed - trend) * 1000000000.0 + 0.5) AS BIGINT)
             AS dn,
         CAST(floor(trend * 1000000000.0 + 0.5) AS BIGINT) AS tn,
         date_part('hour', hour) AS hod
  FROM t
), seas AS (
  SELECT event_type, hod, CAST(sum(dn) // count(*) AS BIGINT) AS sn
  FROM d GROUP BY 1, 2
), comp AS (
  SELECT d.event_type, d.dn, d.dn - seas.sn AS rn, d.tn + d.dn - seas.sn AS trn
  FROM d JOIN seas ON d.event_type = seas.event_type AND d.hod = seas.hod
), m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rn) AS BIGINT) AS s_r, sum(CAST(rn AS HUGEINT) * rn) AS q_r,
         CAST(sum(dn) AS BIGINT) AS s_d, sum(CAST(dn AS HUGEINT) * dn) AS q_d,
         CAST(sum(trn) AS BIGINT) AS s_t, sum(CAST(trn AS HUGEINT) * trn) AS q_t
  FROM comp GROUP BY event_type
)
SELECT event_type, n AS n_hours,
       CAST(greatest(0, 1000000
            - (n * q_r - CAST(s_r AS HUGEINT) * s_r) * 1000000
              // (n * q_d - CAST(s_d AS HUGEINT) * s_d)) AS BIGINT)
         AS f_seasonal_ppm,
       CAST(greatest(0, 1000000
            - (n * q_r - CAST(s_r AS HUGEINT) * s_r) * 1000000
              // (n * q_t - CAST(s_t AS HUGEINT) * s_t)) AS BIGINT)
         AS f_trend_ppm
FROM m
WHERE n * q_d > CAST(s_d AS HUGEINT) * s_d
  AND n * q_t > CAST(s_t AS HUGEINT) * s_t
""",
    doc="Seasonality and trend STRENGTH per event type (Hyndman & "
    "Athanasopoulos FPP: F_S = max(0, 1 - Var(R)/Var(S+R)), F_T = "
    "max(0, 1 - Var(R)/Var(T+R))) over the events_stl_decompose "
    "components — the one-number-per-series diagnostic that decides "
    "whether seasonal models or trend models are worth fitting, and "
    "the standard feature pair in forecast-model routing.  Exactness: "
    "components quantize to integer NANOS before any variance "
    "(detrended was already nano-quantized in the STL key; the "
    "seasonal profile becomes its truncating integer mean and the "
    "trend quantizes the same way), so all variances are 128-bit "
    "integer moment forms n*sum(x^2) - sum(x)^2 and both strengths "
    "are exact truncating ppm with integer degeneracy guards.  Scale "
    "posture: identical to events_stl_decompose — one grid shuffle, "
    "then |types| x 24 and |types|-row rollups.",
    tags=("analytics", "timeseries"),
)
def events_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
                "sum_cents"
            ),
            F.count("*").alias("n_ticks"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(_STL_HALF - 1), _STL_HALF)
    )
    t = grid.select(
        "event_type",
        "hour",
        (F.col("sum_cents").cast("double") / 100.0 / F.col("n_ticks")).alias(
            "observed"
        ),
        (
            F.sum("sum_cents").over(w).cast("double")
            / 100.0
            / F.sum("n_ticks").over(w).cast("double")
        ).alias("trend"),
    )
    d = t.select(
        "event_type",
        F.floor((F.col("observed") - F.col("trend")) * 1000000000.0 + 0.5)
        .cast("bigint")
        .alias("dn"),
        F.floor(F.col("trend") * 1000000000.0 + 0.5).cast("bigint").alias("tn"),
        F.hour("hour").alias("hod"),
    )
    seas = d.groupBy("event_type", "hod").agg(
        F.expr("CAST(div(sum(dn), count(*)) AS BIGINT)").alias("sn")
    )
    comp = d.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type",
        "dn",
        (F.col("dn") - F.col("sn")).alias("rn"),
        (F.col("tn") + F.col("dn") - F.col("sn")).alias("trn"),
    )
    m = comp.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rn").cast("bigint").alias("s_r"),
        F.sum(F.col("rn").cast("decimal(19,0)") * F.col("rn")).alias("q_r"),
        F.sum("dn").cast("bigint").alias("s_d"),
        F.sum(F.col("dn").cast("decimal(19,0)") * F.col("dn")).alias("q_d"),
        F.sum("trn").cast("bigint").alias("s_t"),
        F.sum(F.col("trn").cast("decimal(19,0)") * F.col("trn")).alias("q_t"),
    )
    var_r = F.expr("n * q_r - CAST(s_r AS DECIMAL(38,0)) * s_r")
    var_d = F.expr("n * q_d - CAST(s_d AS DECIMAL(38,0)) * s_d")
    var_t = F.expr("n * q_t - CAST(s_t AS DECIMAL(38,0)) * s_t")
    return (
        m.filter((var_d > 0) & (var_t > 0))
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.greatest(
                F.lit(0).cast("bigint"),
                (
                    F.lit(1000000)
                    - F.expr(
                        "div((n * q_r - CAST(s_r AS DECIMAL(38,0)) * s_r)"
                        " * 1000000, n * q_d - CAST(s_d AS DECIMAL(38,0)) * s_d)"
                    )
                ).cast("bigint"),
            ).alias("f_seasonal_ppm"),
            F.greatest(
                F.lit(0).cast("bigint"),
                (
                    F.lit(1000000)
                    - F.expr(
                        "div((n * q_r - CAST(s_r AS DECIMAL(38,0)) * s_r)"
                        " * 1000000, n * q_t - CAST(s_t AS DECIMAL(38,0)) * s_t)"
                    )
                ).cast("bigint"),
            ).alias("f_trend_ppm"),
        )
    )


@register(
    "analytics_welch_ttest",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey),
armed AS (
  SELECT y,
         CASE WHEN CAST(CAST(concat('0x', substr(md5(concat('welch',
                   CAST(cust AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT) % 2 = 0
              THEN 0 ELSE 1 END AS arm
  FROM per_cust),
g AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s1,
         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS s2
  FROM armed GROUP BY arm),
q AS (
  -- pin mean (milli-cent) and sample variance (cent^2) as EXACT
  -- truncating-division integers BEFORE any double arithmetic: a
  -- HUGEINT->DOUBLE cast is not correctly rounded in one engine, so
  -- only bounded integers may cross into floats
  SELECT arm, n, s1,
         CAST(CAST(s1 AS HUGEINT) * 1000 // n AS BIGINT) AS mean_milli,
         CAST((CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT))
              // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS var_cents2
  FROM g),
w AS (
  SELECT c.n AS n_control, t.n AS n_treatment,
         c.s1 AS sum_cents_control, t.s1 AS sum_cents_treatment,
         c.var_cents2 AS var_cents2_control, t.var_cents2 AS var_cents2_treatment,
         CAST(c.mean_milli AS DOUBLE) / 1000.0 AS m_c,
         CAST(t.mean_milli AS DOUBLE) / 1000.0 AS m_t,
         CAST(c.var_cents2 AS DOUBLE) / c.n AS se2_c,
         CAST(t.var_cents2 AS DOUBLE) / t.n AS se2_t
  FROM (SELECT * FROM q WHERE arm = 0) c, (SELECT * FROM q WHERE arm = 1) t)
SELECT n_control, n_treatment, sum_cents_control, sum_cents_treatment,
       var_cents2_control, var_cents2_treatment,
       (m_t - m_c) / sqrt(se2_c + se2_t) AS t_stat,
       (se2_c + se2_t) * (se2_c + se2_t)
         / (se2_c * se2_c / (n_control - 1) + se2_t * se2_t / (n_treatment - 1))
         AS welch_df,
       CAST(CASE WHEN abs((m_t - m_c) / sqrt(se2_c + se2_t)) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS significant_95
FROM w
""",
    doc="Welch's unequal-variance two-sample t-test — the default A/B "
    "readout when arm variances differ (Welch 1947; what "
    "scipy.stats.ttest_ind(equal_var=False) computes): customers hash "
    "deterministically into arms (seeded md5, the analytics_ab_cuped "
    "assignment discipline), the metric is exact per-customer spend "
    "cents, and each arm reduces to the exact integer triple (n, sum, "
    "sum-of-squares; the square widened 128-bit BEFORE summation).  "
    "t = (m_t - m_c)/sqrt(s2_c/n_c + s2_t/n_t) and the "
    "Welch-Satterthwaite df are the ONLY float steps — computed from "
    "exact integer sums via literally identical expressions on both "
    "engines (the cuped discipline), so the doubles are "
    "bit-deterministic.  No p-value: the 1.96 two-sided z threshold is "
    "reported as a flag (the incomplete-beta CDF is out of scope — "
    "callers wanting exact p feed t/df to their stats library).  Scale "
    "posture: one groupBy(custkey) partial-agg shuffle reduces facts "
    "to units, then a 2-row arm rollup — a single fact pass at 100 TB.",
    tags=("analytics",),
)
def analytics_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_welch_v")
    return spark.sql("""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT) AS y
  FROM orders_welch_v GROUP BY o_custkey),
armed AS (
  SELECT y,
         CASE WHEN CAST(conv(substring(md5(concat('welch',
                   CAST(cust AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0
              THEN 0 ELSE 1 END AS arm
  FROM per_cust),
g AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s1,
         sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS s2
  FROM armed GROUP BY arm),
q AS (
  -- pin mean (milli-cent) and sample variance (cent^2) as EXACT
  -- truncating-division integers BEFORE any double arithmetic (the
  -- oracle engine's 128-bit->double cast is not correctly rounded)
  SELECT arm, n, s1,
         CAST(div(CAST(s1 AS DECIMAL(38,0)) * 1000, n) AS BIGINT) AS mean_milli,
         CAST(div(CAST(n AS DECIMAL(38,0)) * s2
                  - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)),
                  CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT) AS var_cents2
  FROM g),
w AS (
  SELECT c.n AS n_control, t.n AS n_treatment,
         c.s1 AS sum_cents_control, t.s1 AS sum_cents_treatment,
         c.var_cents2 AS var_cents2_control, t.var_cents2 AS var_cents2_treatment,
         CAST(c.mean_milli AS DOUBLE) / 1000.0 AS m_c,
         CAST(t.mean_milli AS DOUBLE) / 1000.0 AS m_t,
         CAST(c.var_cents2 AS DOUBLE) / c.n AS se2_c,
         CAST(t.var_cents2 AS DOUBLE) / t.n AS se2_t
  FROM (SELECT * FROM q WHERE arm = 0) c, (SELECT * FROM q WHERE arm = 1) t)
SELECT n_control, n_treatment, sum_cents_control, sum_cents_treatment,
       var_cents2_control, var_cents2_treatment,
       (m_t - m_c) / sqrt(se2_c + se2_t) AS t_stat,
       (se2_c + se2_t) * (se2_c + se2_t)
         / (se2_c * se2_c / (n_control - 1) + se2_t * se2_t / (n_treatment - 1))
         AS welch_df,
       CAST(CASE WHEN abs((m_t - m_c) / sqrt(se2_c + se2_t)) > 1.96
                 THEN 1 ELSE 0 END AS BIGINT) AS significant_95
FROM w
""")


@register(
    "analytics_spearman_corr",
    oracle="""
WITH f AS (
  SELECT o.o_orderkey AS ok,
         CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS x,
         l.y
  FROM orders o
  JOIN (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS y
        FROM lineitem GROUP BY l_orderkey) l
    ON l.l_orderkey = o.o_orderkey),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
gx AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY x),
rx AS (
  SELECT x,
         2 * (sum(cnt) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
           + cnt - nn.n AS cx
  FROM gx, nn),
gy AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY y),
ry AS (
  SELECT y,
         2 * (sum(cnt) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
           + cnt - nn.n AS cy
  FROM gy, nn),
s AS (
  SELECT CAST(sum(CAST(cx AS HUGEINT) * cy) AS BIGINT) AS s_xy,
         CAST(sum(CAST(cx AS HUGEINT) * cx) AS BIGINT) AS s_xx,
         CAST(sum(CAST(cy AS HUGEINT) * cy) AS BIGINT) AS s_yy
  FROM f JOIN rx USING (x) JOIN ry USING (y)),
q AS (
  SELECT s.*, nn.n,
         CAST(CAST(s_xy AS HUGEINT) * 1000000 // s_xx AS BIGINT) AS a,
         CAST(CAST(s_xy AS HUGEINT) * 1000000 // s_yy AS BIGINT) AS b
  FROM s, nn)
SELECT n AS n_rows, s_xy, s_xx, s_yy,
       CAST(CASE WHEN s_xy > 0 THEN 1 WHEN s_xy < 0 THEN -1 ELSE 0 END
            AS BIGINT) AS rho_sign,
       CAST(CAST(a AS HUGEINT) * b // 1000000 AS BIGINT) AS rho_sq_ppm,
       (CASE WHEN s_xy > 0 THEN 1.0 WHEN s_xy < 0 THEN -1.0 ELSE 0.0 END)
         * sqrt(CAST(CAST(CAST(a AS HUGEINT) * b // 1000000 AS BIGINT)
                     AS DOUBLE) / 1000000.0) AS rho
FROM q
""",
    doc="Spearman rank correlation with tie-corrected AVERAGE ranks "
    "(order value vs lineitem count per order) — the robust monotone- "
    "association readout Pearson misses.  Rank algebra: the centered "
    "DOUBLED average rank c = 2*cnt_less + cnt_eq - n is an exact "
    "integer per distinct value (avg rank r = cnt_less + (cnt_eq+1)/2, "
    "so c = 2r-(n+1)); centering makes the rank means exactly zero, "
    "collapsing Pearson-on-ranks to rho = S_xy/sqrt(S_xx*S_yy) over "
    "three 128-bit-widened integer moments.  rho^2 is pinned WITHOUT "
    "any big-int->double cast (one engine's 128-bit->double conversion "
    "is not correctly rounded): a = S_xy*1e6//S_xx and b = "
    "S_xy*1e6//S_yy are exact truncating divisions, rho_sq_ppm = "
    "a*b//1e6, and the float rho derives from that bounded integer via "
    "an identical literal on both engines.  Valid while S_xy*1e6 < "
    "1e38, i.e. n < 4.6e10 rows — the 100 TB order count.  Scale "
    "posture (Spark side): the per-value rank tables and n come from "
    "operators/rank.py prefix_sums (one range partition each, never a "
    "single-partition ORDER BY window — the oracle's windowed "
    "cumulative is DuckDB-only); facts join the two rank dimensions "
    "and reduce to one row of moments.",
    tags=("analytics",),
)
def analytics_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.count("*").cast("bigint").alias("y"))
    )
    # the joined fact frame feeds BOTH value rollups and the final
    # moment join — pin it so the orders-lineitem join runs once
    f = o.join(li, "ok").select("x", "y").persist()
    # c = 2 * (count below) + (count at) - n, with n the cnt total; n
    # rides along on the small per-lineitem-count table
    gx = f.groupBy("x").agg(F.count("*").cast("long").alias("cnt"))
    rx = prefix_sums(gx, [], ["x"], ["cnt"]).select(
        "x", (2 * F.col("cnt_before") + F.col("cnt") - F.col("cnt_total")).alias("cx")
    )
    gy = f.groupBy("y").agg(F.count("*").cast("long").alias("cnt"))
    ry = prefix_sums(gy, [], ["y"], ["cnt"]).select(
        "y",
        (2 * F.col("cnt_before") + F.col("cnt") - F.col("cnt_total")).alias("cy"),
        F.col("cnt_total").alias("n"),
    )
    s = f.join(rx, "x").join(ry, "y").agg(
        F.max("n").alias("n"),
        F.sum(F.expr("CAST(cx AS DECIMAL(19,0)) * cy")).alias("sxy"),
        F.sum(F.expr("CAST(cx AS DECIMAL(19,0)) * cx")).alias("sxx"),
        F.sum(F.expr("CAST(cy AS DECIMAL(19,0)) * cy")).alias("syy"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("sxy").cast("bigint").alias("s_xy"),
        F.col("sxx").cast("bigint").alias("s_xx"),
        F.col("syy").cast("bigint").alias("s_yy"),
        F.expr(
            "CAST(CASE WHEN sxy > 0 THEN 1 WHEN sxy < 0 THEN -1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("rho_sign"),
        F.expr(
            "CAST(div(CAST(div(CAST(sxy AS DECIMAL(38,0)) * 1000000, sxx)"
            " AS DECIMAL(38,0))"
            " * CAST(div(CAST(sxy AS DECIMAL(38,0)) * 1000000, syy) AS BIGINT),"
            " 1000000) AS BIGINT)"
        ).alias("rho_sq_ppm"),
        F.expr(
            "(CASE WHEN sxy > 0 THEN 1.0 WHEN sxy < 0 THEN -1.0 ELSE 0.0 END)"
            " * sqrt(CAST(CAST(div(CAST(div(CAST(sxy AS DECIMAL(38,0)) * 1000000,"
            " sxx) AS DECIMAL(38,0))"
            " * CAST(div(CAST(sxy AS DECIMAL(38,0)) * 1000000, syy) AS BIGINT),"
            " 1000000) AS BIGINT) AS DOUBLE) / 1000000.0)"
        ).alias("rho"),
    )


_PSM_CALIPER = 1000  # matching caliper: 1000 cents of account balance


@register(
    "analytics_propensity_match",
    oracle=f"""
WITH outcome AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0)))
                        AS BIGINT) AS y
  FROM orders GROUP BY o_custkey),
units AS (
  SELECT c.c_custkey AS k,
         CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) AS score,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
         coalesce(o.y, 0) AS y
  FROM customer c LEFT JOIN outcome o ON o.o_custkey = c.c_custkey),
t AS (SELECT * FROM units WHERE treated = 1),
ctl AS (SELECT k, score, y,
               score // {_PSM_CALIPER} AS b
        FROM units WHERE treated = 0),
cand AS (
  SELECT t.k AS tk, t.score AS ts, t.y AS ty,
         c.k AS ck, c.y AS cy, abs(t.score - c.score) AS d
  FROM t
  JOIN ctl c ON c.b BETWEEN t.score // {_PSM_CALIPER} - 1
                        AND t.score // {_PSM_CALIPER} + 1
  WHERE abs(t.score - c.score) <= {_PSM_CALIPER}),
best AS (
  SELECT tk, ts, ty, ck, cy, d,
         row_number() OVER (PARTITION BY tk ORDER BY d, ck) AS rn
  FROM cand)
SELECT tk AS treated_custkey, ck AS control_custkey,
       CAST(d AS BIGINT) AS score_gap_cents,
       CAST(ty AS BIGINT) AS y_treated_cents,
       CAST(cy AS BIGINT) AS y_control_cents,
       CAST(ty - cy AS BIGINT) AS effect_cents
FROM best WHERE rn = 1
""",
    doc="Propensity-score matching with a caliper (Rosenbaum-Rubin "
    "1983 shape; with-replacement nearest-neighbor, the parallelizable "
    "variant — greedy WITHOUT replacement is inherently sequential): "
    "treated units (BUILDING-segment customers) match the nearest "
    "control by account-balance score (exact cents) within a "
    f"{_PSM_CALIPER}-cent caliper, deterministic (distance, control "
    "key) tie-break, and each matched pair reports the outcome "
    "difference (exact total-spend cents) — the per-pair grain an ATT "
    "estimate aggregates.  Scale posture: candidate generation is the "
    "banded equi-join idiom (score bucketed at caliper width; each "
    "treated unit probes buckets b-1..b+1), so candidate volume is "
    "caliper-local — never an all-pairs cross join — and the "
    "per-treated argmin is one partial-aggregable min-by; at 100 TB "
    "the plan is two fact rollups plus one bounded-fanout hash join.",
    tags=("analytics",),
)
def analytics_propensity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    outcome = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(o_totalprice * 100 AS DECIMAL(18,0))"))
            .cast("bigint")
            .alias("y")
        )
    )
    # pinned: the unit table feeds both the treated and the control
    # branch — one customer-orders join, not two
    units = (
        cust.join(outcome, cust.c_custkey == outcome.o_custkey, "left")
        .select(
            F.col("c_custkey").alias("k"),
            F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("score"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("treated"),
            F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y"),
        )
    ).persist()
    t = units.filter("treated = 1").select(
        F.col("k").alias("tk"),
        F.col("score").alias("ts"),
        F.col("y").alias("ty"),
        F.explode(
            F.array(
                F.expr(f"div(score, {_PSM_CALIPER}) - 1"),
                F.expr(f"div(score, {_PSM_CALIPER})"),
                F.expr(f"div(score, {_PSM_CALIPER}) + 1"),
            )
        ).alias("b"),
    )
    ctl = units.filter("treated = 0").select(
        F.col("k").alias("ck"),
        F.col("score").alias("cs"),
        F.col("y").alias("cy"),
        F.expr(f"div(score, {_PSM_CALIPER})").alias("b"),
    )
    cand = (
        t.join(ctl, "b")
        .withColumn("d", F.abs(F.col("ts") - F.col("cs")))
        .filter(F.col("d") <= _PSM_CALIPER)
    )
    best = cand.groupBy("tk", "ts", "ty").agg(
        F.min(F.struct("d", "ck", "cy")).alias("m")
    )
    return best.select(
        F.col("tk").alias("treated_custkey"),
        F.col("m.ck").alias("control_custkey"),
        F.col("m.d").cast("bigint").alias("score_gap_cents"),
        F.col("ty").cast("bigint").alias("y_treated_cents"),
        F.col("m.cy").cast("bigint").alias("y_control_cents"),
        (F.col("ty") - F.col("m.cy")).cast("bigint").alias("effect_cents"),
    )


_QTE_PCTS = (25, 50, 75, 90)


@register(
    "analytics_quantile_treatment_effect",
    oracle=f"""
WITH outcome AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0)))
                        AS BIGINT) AS y
  FROM orders GROUP BY o_custkey),
armed AS (
  SELECT y,
         CASE WHEN CAST(CAST(concat('0x', substr(md5(concat('qte',
                   CAST(o_custkey AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT)
                % 2 = 0 THEN 0 ELSE 1 END AS arm
  FROM outcome),
g AS (
  SELECT arm, y, CAST(count(*) AS BIGINT) AS n FROM armed GROUP BY arm, y),
c AS (
  SELECT arm, y, n,
         sum(n) OVER (PARTITION BY arm ORDER BY y
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
           AS cum_before,
         sum(n) OVER (PARTITION BY arm) AS n_arm
  FROM g),
p(p) AS (VALUES {", ".join(f"({p})" for p in _QTE_PCTS)}),
sel AS (
  SELECT p.p, c.arm, c.y
  FROM c JOIN p ON c.cum_before < (p.p * c.n_arm + 99) // 100
               AND (p.p * c.n_arm + 99) // 100 <= c.cum_before + c.n)
SELECT CAST(p AS BIGINT) AS pct,
       CAST(max(CASE WHEN arm = 0 THEN y END) AS BIGINT) AS q_control_cents,
       CAST(max(CASE WHEN arm = 1 THEN y END) AS BIGINT) AS q_treatment_cents,
       CAST(max(CASE WHEN arm = 1 THEN y END)
            - max(CASE WHEN arm = 0 THEN y END) AS BIGINT) AS qte_cents
FROM sel GROUP BY p
""",
    doc="Quantile treatment effects — the distributional A/B readout "
    "(Athey-Imbens shape: a mean shift can hide a tail regression; QTE "
    "reports the per-quantile arm difference).  Customers hash into "
    "arms (seeded md5), the outcome is exact spend cents, and each "
    "arm's p25/p50/p75/p90 is the EXACT type-1 quantile — the value at "
    "rank ceil(p*n/100), integer cross-multiplied, no interpolation, "
    "no floats anywhere.  Scale posture (Spark side): one fact rollup "
    "to (arm, value, count), the per-arm cumulative and arm size "
    "from operators/rank.py prefix_sums over the (arm, value) order "
    "(never a per-arm single-partition window — that is the oracle's "
    "DuckDB-only formulation), then a "
    "4-row quantile-grid broadcast join selects the straddling rows.",
    tags=("analytics",),
)
def analytics_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    outcome = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(o_totalprice * 100 AS DECIMAL(18,0))"))
            .cast("bigint")
            .alias("y")
        )
    )
    armed = outcome.select(
        "y",
        F.expr(
            "CASE WHEN CAST(conv(substring(md5(concat('qte',"
            " CAST(o_custkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0"
            " THEN 0 ELSE 1 END"
        ).alias("arm"),
    )
    g = armed.groupBy("arm", "y").agg(F.count("*").cast("bigint").alias("n"))
    c = prefix_sums(g, ["arm"], ["y"], ["n"]).select(
        "arm",
        "y",
        "n",
        F.col("n_before").alias("cum_before"),
        F.col("n_total").alias("n_arm"),
    )
    pgrid = spark.createDataFrame([(p,) for p in _QTE_PCTS], "p long")
    sel = c.join(
        F.broadcast(pgrid),
        (F.col("cum_before") < F.expr("div(p * n_arm + 99, 100)"))
        & (F.expr("div(p * n_arm + 99, 100)") <= F.col("cum_before") + F.col("n")),
    )
    return sel.groupBy(F.col("p").alias("pct")).agg(
        F.max(F.when(F.col("arm") == 0, F.col("y"))).cast("bigint").alias("q_control_cents"),
        F.max(F.when(F.col("arm") == 1, F.col("y"))).cast("bigint").alias("q_treatment_cents"),
        (
            F.max(F.when(F.col("arm") == 1, F.col("y")))
            - F.max(F.when(F.col("arm") == 0, F.col("y")))
        )
        .cast("bigint")
        .alias("qte_cents"),
    )


@register(
    "analytics_hhi_concentration",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, l.l_suppkey AS supp,
         CAST(sum(CAST(l.l_extendedprice * 100 AS DECIMAL(18,0)))
              AS BIGINT) AS cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name, l.l_suppkey),
tot AS (
  SELECT nation, CAST(sum(cents) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_suppliers
  FROM rev GROUP BY nation),
h AS (
  SELECT r.nation, t.n_suppliers,
         CAST(sum(CAST(r.cents AS HUGEINT) * r.cents) * 1000000
              // (CAST(t.total AS HUGEINT) * t.total) AS BIGINT) AS hhi_ppm
  FROM rev r JOIN tot t USING (nation)
  GROUP BY r.nation, t.n_suppliers, t.total)
SELECT nation, n_suppliers, hhi_ppm,
       CAST(CASE WHEN hhi_ppm > 250000 THEN 1 ELSE 0 END AS BIGINT)
         AS highly_concentrated
FROM h
""",
    doc="Herfindahl-Hirschman market-concentration index per nation "
    "(the antitrust-screening statistic; HHI > 0.25 = highly "
    "concentrated under the DOJ 2010 guideline, flagged): supplier "
    "revenue shares squared and summed, computed WITHOUT materializing "
    "any share — sum(cents^2)*1e6 // total^2 is one exact "
    "truncating-division ppm over 128-bit products (identical algebra "
    "to sum((c/t)^2) since the denominator factors out).  Scale "
    "posture: one fact rollup to (nation, supplier) revenue — "
    "map-side combinable — then a |nations|-row concentration rollup; "
    "dimension joins broadcast.",
    tags=("analytics",),
)
def analytics_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.sum(F.expr("CAST(l_extendedprice * 100 AS DECIMAL(18,0))"))
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = rev.groupBy("nation").agg(
        F.sum("cents").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_suppliers"),
    )
    h = (
        rev.join(F.broadcast(tot), "nation")
        .groupBy("nation", "n_suppliers", "total")
        .agg(
            F.expr(
                "CAST(div(sum(CAST(cents AS DECIMAL(19,0)) * cents) * 1000000,"
                " CAST(total AS DECIMAL(38,0)) * total) AS BIGINT)"
            ).alias("hhi_ppm")
        )
    )
    return h.select(
        "nation",
        "n_suppliers",
        "hhi_ppm",
        F.expr(
            "CAST(CASE WHEN hhi_ppm > 250000 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("highly_concentrated"),
    )


@register(
    "analytics_theil_index",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey),
tot AS (
  SELECT CAST(sum(y) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n FROM spend)
SELECT tot.n AS n_units,
       round(sum((CAST(y AS DOUBLE) / tot.s)
                 * ln(CAST(y AS DOUBLE) * tot.n / tot.s)), 9) AS theil_t,
       round(sum(-ln(CAST(y AS DOUBLE) * tot.n / tot.s)) / tot.n, 9) AS theil_l
FROM spend, tot
GROUP BY tot.n
""",
    doc="Theil T and L inequality indices of customer spend — the "
    "decomposable complement to the Gini family (agg_gini_spend): "
    "T = sum(share * ln(x*n/total)) weights the rich tail, L (mean log "
    "deviation) the poor tail; both 0 at perfect equality, and unlike "
    "Gini they decompose additively across subgroups.  Float "
    "discipline: x, n, total are exact integers; per-unit terms are "
    "IEEE doubles from identical literal expressions and the sums "
    "round at 1e-9 on both engines (the perplexity-family "
    "transcendental re-sync; customer totals are strictly positive so "
    "ln is total).  Scale posture: one groupBy(custkey) fact pass, a "
    "1-row broadcast of (total, n), one partial-agg reduction.",
    tags=("analytics",),
)
def analytics_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(o_totalprice * 100 AS DECIMAL(18,0))"))
            .cast("bigint")
            .alias("y")
        )
    )
    tot = spend.agg(
        F.sum("y").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    return (
        spend.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(
                F.sum(
                    (F.col("y").cast("double") / F.col("s"))
                    * F.log(F.col("y").cast("double") * F.col("n") / F.col("s"))
                ),
                9,
            ).alias("theil_t"),
            F.round(
                F.sum(
                    -F.log(F.col("y").cast("double") * F.col("n") / F.col("s"))
                )
                / F.col("n"),
                9,
            ).alias("theil_l"),
        )
        .select(F.col("n").alias("n_units"), "theil_t", "theil_l")
    )


@register(
    "analytics_stickiness_dau_mau",
    oracle="""
WITH presence AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
), grid AS (
  SELECT DISTINCT day FROM presence
), cover AS (
  SELECT DISTINCT p.user_id, p.day + k.k * INTERVAL 1 DAY AS day
  FROM presence p, UNNEST(range(0, 30)) AS k(k)
), mau AS (
  SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS mau
  FROM cover c JOIN grid g ON g.day = c.day GROUP BY c.day
), dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM presence GROUP BY day
)
SELECT d.day, d.dau, m.mau,
       round(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
FROM dau d JOIN mau m ON m.day = d.day
""",
    doc="DAU/MAU STICKINESS per day — the canonical product-engagement "
    "ratio (what fraction of the monthly-active base shows up on a "
    "given day): DAU(d) = distinct users active on d, MAU(d) = distinct "
    "users active in the trailing 30 days [d-29, d], stickiness = "
    "DAU/MAU.  Exactness at scale via the PRESENCE-EXPLODE pattern "
    "(analytics_rolling_distinct_users' 7-day trick at 30 days): raw "
    "events first collapse to distinct (user, day) presence rows, each "
    "presence then covers the 30 grid days it contributes a membership "
    "to, and MAU is a plain count(DISTINCT) per covered day — "
    "cardinality is |users| x |active days| x 30 presence rows, NEVER "
    "|events| x 30, and every stage is an ordinary partial+final "
    "aggregate; no sliding window state, no per-day rescan of the "
    "fact.  Cover days land on the activity grid (join against it) so "
    "no phantom trailing days appear.  The division is a single "
    "bigint/bigint double rounded to 6 — bit-identical cross-engine.",
    tags=("analytics",),
)
def analytics_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.io import load_events

    ev = load_events(spark, sf_dir)
    presence = (
        ev.select(
            "user_id", F.date_trunc("day", "ts").alias("day")
        ).distinct()
    )
    grid = presence.select("day").distinct()
    cover = (
        presence.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(29))).alias("k"),
            "day",
        )
        .select(
            "user_id",
            F.expr("timestampadd(DAY, k, day)").alias("day"),
        )
        .distinct()
    )
    mau = (
        cover.join(grid, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
    )
    dau = presence.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    return dau.join(mau, "day").select(
        "day",
        "dau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
    )
