"""Composed ETL pipeline — the reference's model-load dataflow end-to-end.

Reference lifecycle [P] (SURVEY §3.2, cobradb/model_loading.py::load_model):
parse -> convert_ids (normalize) -> hash_reaction -> match-existing-by-hash
-> get_or_create upsert -> ModelCount aggregate.  Row-at-a-time in the
reference; one declarative multi-stage DataFrame program here, so the
whole load is N shuffles total (hash, merge, count) instead of N round
trips per entity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.operators.merge import insert_if_absent
from cobradb_spark.registry import register
from cobradb_spark.scratch import scratch_dir


@register(
    "etl_model_load",
    oracle="""
WITH incoming AS (
  -- "new model": orders in 1998+ with their lineitem stoichiometry
  SELECT l.l_orderkey, l.l_partkey, l.l_quantity, o.o_orderpriority
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
), sig AS (
  -- hash_reaction: sha256 over the sorted part:qty signature
  SELECT l_orderkey,
         lower(trim(min(o_orderpriority))) AS norm_priority,
         sha256(string_agg(concat(l_partkey, ':', CAST(l_quantity AS BIGINT)), ','
                ORDER BY concat(l_partkey, ':', CAST(l_quantity AS BIGINT)))) AS rhash,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM incoming GROUP BY l_orderkey
), existing AS (
  -- "already-loaded catalog": the distinct hashes of pre-1998 orders
  SELECT DISTINCT sha256(string_agg(concat(l_partkey, ':', CAST(l_quantity AS BIGINT)), ','
                  ORDER BY concat(l_partkey, ':', CAST(l_quantity AS BIGINT)))) AS rhash
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY l.l_orderkey
), dedup AS (
  -- match-existing-by-hash: only genuinely new reactions load
  SELECT s.* FROM sig s WHERE NOT EXISTS
    (SELECT 1 FROM existing e WHERE e.rhash = s.rhash)
), canonical AS (
  -- get_or_create within the batch: first orderkey per hash wins
  SELECT rhash, min(l_orderkey) AS first_orderkey,
         CAST(count(*) AS BIGINT) AS copies
  FROM dedup GROUP BY rhash
)
-- ModelCount analog: per-priority load statistics
SELECT d.norm_priority,
       CAST(count(*) AS BIGINT) AS n_new_reactions,
       CAST(sum(d.n_parts) AS BIGINT) AS n_matrix_rows
FROM dedup d JOIN canonical c ON c.rhash = d.rhash AND c.first_orderkey = d.l_orderkey
GROUP BY d.norm_priority
""",
    doc="Composed ETL: the reference's load_model dataflow (SURVEY §3.2 [P]) as one "
    "DataFrame program — normalize (H1) -> reaction-hash (H4) -> anti-join dedup "
    "vs the existing catalog (A6/C5) -> within-batch get_or_create -> count "
    "rollup (D1/ModelCount). Set-at-a-time: 4 shuffles total for the whole load, "
    "vs per-row ORM round trips.",
)
def etl_model_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pair = F.concat_ws(":", F.col("l_partkey"), F.col("l_quantity").cast("long"))
    sig_of = lambda df: df.groupBy("l_orderkey").agg(  # noqa: E731
        F.sha2(F.concat_ws(",", F.array_sort(F.collect_list(pair))), 256).alias("rhash"),
        F.count("*").alias("n_parts"),
        F.lower(F.trim(F.min("o_orderpriority"))).alias("norm_priority"),
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_partkey", "l_quantity", "o_orderpriority", "o_orderdate"
    )
    incoming = sig_of(joined.filter(F.col("o_orderdate") >= "1998-01-01"))
    existing = (
        sig_of(joined.filter(F.col("o_orderdate") < "1998-01-01"))
        .select("rhash")
        .distinct()
    )
    # match-existing-by-hash (the reference's preloaded-dict lookup [P])
    fresh = incoming.join(existing, on="rhash", how="left_anti")
    canonical = fresh.groupBy("rhash").agg(
        F.min("l_orderkey").alias("first_orderkey")
    ).withColumnRenamed("rhash", "c_rhash")
    loaded = fresh.join(
        canonical,
        (F.col("rhash") == F.col("c_rhash"))
        & (F.col("l_orderkey") == F.col("first_orderkey")),
    )
    return loaded.groupBy("norm_priority").agg(
        F.count("*").alias("n_new_reactions"),
        F.sum("n_parts").cast("long").alias("n_matrix_rows"),
    )


@register(
    "etl_llm_corpus_pipeline",
    oracle="""
WITH base AS (
  SELECT doc_id, text, lang, n_chars,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
  WHERE lang = 'en' AND n_chars BETWEEN 100 AND 2000
        AND len(str_split(text, ' ')) >= 20
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM base
)
SELECT doc_id, n_tokens,
       CAST(CAST(concat('0x', substr(md5(concat('shard', CAST(doc_id AS VARCHAR))), 1, 15))
            AS UBIGINT) % 4 AS BIGINT) AS shard
FROM ranked WHERE rn = 1
""",
    doc="Composed LLM-corpus build — the end-to-end hygiene pass a training "
    "pipeline runs per snapshot: (1) language gate + length/token quality "
    "gates (all narrow filters, lang pushed to the scan), (2) exact dedup "
    "keeping the lowest doc_id per md5(text) signature via ONE partial+final "
    "aggregate shuffle (groupBy+min/min_by, NOT a window on the signature — "
    "a window cannot split a mega-duplicate group across tasks, so the hot "
    "group funnels through one task at 100 TB; the combiner collapses it "
    "per input task, r13 VERDICT item 2's gate enforces this shape), "
    "(3) deterministic md5 shard assignment, rerun-stable with no RNG. "
    "Composes the A/B filter, H hash, and D agg primitives in a single "
    "declarative plan; at 100 TB every stage is map-side except the one "
    "signature shuffle. Downstream: etl_shard_balanced packs the survivors "
    "into token-balanced shards.",
)
def etl_llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    base = (
        d.filter(F.col("lang") == "en")
        .filter(F.col("n_chars").between(100, 2000))
        .withColumn("n_tokens", n_tokens)
        .filter(F.col("n_tokens") >= 20)
    )
    canon = (
        base.groupBy(F.md5("text").alias("__sig"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        )
        .drop("__sig")
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 4
    )
    return canon.select("doc_id", "n_tokens", shard.alias("shard"))


@register(
    "etl_cdc_apply",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
), cdc AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 >= 7 THEN 'D'
              WHEN o_orderkey % 3 = 0  THEN 'I'
              ELSE 'U' END AS op,
         o_orderstatus,
         o_totalprice * 2 AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
       coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
       round(coalesce(c.o_totalprice, b.o_totalprice), 6) AS o_totalprice,
       (c.o_orderkey IS NOT NULL) AS was_changed
FROM base b
FULL JOIN cdc c ON b.o_orderkey = c.o_orderkey
WHERE NOT coalesce(c.op = 'D', FALSE)
  AND NOT coalesce(c.op = 'I' AND b.o_orderkey IS NOT NULL AND c.o_orderkey IS NULL, FALSE)
""",
    doc="Full CDC/MERGE apply — the general form of merge_upsert's "
    "insert-if-absent: a change log of I/U/D ops lands on the base table in "
    "ONE full outer join. Deletes drop matched rows, updates override "
    "matched values, inserts pass through unmatched change rows, untouched "
    "base rows pass through unmatched-on-the-other-side. At 100 TB both "
    "sides hash-partition on the key (one shuffle each); the change log is "
    "usually small enough to broadcast, collapsing to a map-side apply. "
    "This is the Delta/Iceberg MERGE INTO dataflow expressed directly.",
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cdc = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 >= 7, "D")
        .when(F.col("o_orderkey") % 3 == 0, "I")
        .otherwise("U")
        .alias("op"),
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    b, c = base.alias("b"), cdc.alias("c")
    j = b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full")
    matched_delete = (F.col("c.op") == "D") & F.col("c.o_orderkey").isNotNull()
    stray_insert = (
        (F.col("c.op") == "I")
        & F.col("b.o_orderkey").isNotNull()
        & F.col("c.o_orderkey").isNull()
    )
    return j.filter(~matched_delete.eqNullSafe(True) & ~stray_insert.eqNullSafe(True)).select(
        F.coalesce(F.col("c.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("c.o_orderstatus"), F.col("b.o_orderstatus")).alias("o_orderstatus"),
        F.round(
            F.coalesce(F.col("c.o_totalprice"), F.col("b.o_totalprice")), 6
        ).alias("o_totalprice"),
        F.col("c.o_orderkey").isNotNull().alias("was_changed"),
    )


@register(
    "dq_validate_suite",
    oracle="""
SELECT 'orders_null_custkey' AS check_name,
       CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'orders_fk_customer',
       CAST(count(*) AS BIGINT)
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_custkey IS NULL
UNION ALL
SELECT 'lineitem_nonpositive_qty',
       CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events_ts_in_window',
       CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-01'
                                OR ts >= TIMESTAMP '2024-02-01') AS BIGINT)
FROM events
""",
    doc="Data-quality expectation suite (the Deequ/Great-Expectations role): "
    "null checks, referential integrity (anti-join), range and freshness "
    "windows — each check one conditional aggregate or anti-join, all "
    "returned as a single violations report the load gate can assert on. "
    "The FK check is the same anti-join shape as fk_audit_anti; at 100 TB "
    "the dimension side broadcasts and every check is one scan (checks on "
    "the same table share it via common subexpression in a real run).",
)
def dq_validate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")

    def check(name: str, df: DataFrame, cnt: F.Column) -> DataFrame:
        return df.agg(F.lit(name).alias("check_name"), cnt.alias("n_violations"))

    fk_orphans = o.join(
        F.broadcast(c.select("c_custkey")),
        o["o_custkey"] == c["c_custkey"],
        "left_anti",
    )
    lo = F.lit("2024-01-01").cast("timestamp_ntz")
    hi = F.lit("2024-02-01").cast("timestamp_ntz")
    return (
        check("orders_null_custkey", o, F.count_if(F.col("o_custkey").isNull()))
        .unionAll(check("orders_fk_customer", fk_orphans, F.count("*")))
        .unionAll(check("lineitem_nonpositive_qty", li, F.count_if(F.col("l_quantity") <= 0)))
        .unionAll(
            check(
                "lineitem_discount_range",
                li,
                F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
            )
        )
        .unionAll(
            check("events_ts_in_window", e, F.count_if((F.col("ts") < lo) | (F.col("ts") >= hi)))
        )
    )


@register(
    "etl_table_checksum",
    oracle="""
SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(CAST(concat('0x', substr(md5(
           concat(CAST(o_orderkey AS VARCHAR), '|', o_orderstatus, '|',
                  CAST(round(o_totalprice, 2) AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT))
         AS checksum
FROM orders
UNION ALL
SELECT 'customer', CAST(count(*) AS BIGINT),
       bit_xor(CAST(CAST(concat('0x', substr(md5(
           concat(CAST(c_custkey AS VARCHAR), '|', CAST(c_nationkey AS VARCHAR), '|',
                  CAST(round(c_acctbal, 2) AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT))
FROM customer
""",
    doc="Cross-engine table reconciliation: an order-independent fingerprint "
    "per table = (row count, XOR of per-row 60-bit md5 over a canonical "
    "column serialization). XOR is commutative/associative with no "
    "overflow, so the checksum is partition-order- and shuffle-free: each "
    "partition XORs locally, partials XOR at the driver — one narrow scan "
    "per table. This is the post-migration validation a reference user "
    "runs to prove the Spark copy equals the Postgres original; numeric "
    "columns enter via round(x,2) text so both engines serialize "
    "identically.",
)
def etl_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    def fp(df: DataFrame, name: str, cols: list) -> DataFrame:
        canon = F.concat_ws("|", *cols)
        h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
        return df.select(h.alias("__h")).agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(__h)").alias("checksum"),
        )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    orders_fp = fp(
        o,
        "orders",
        [
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.round("o_totalprice", 2).cast("string"),
        ],
    )
    cust_fp = fp(
        c,
        "customer",
        [
            F.col("c_custkey").cast("string"),
            F.col("c_nationkey").cast("string"),
            F.round("c_acctbal", 2).cast("string"),
        ],
    )
    return orders_fp.unionAll(cust_fp)


@register(
    "etl_backfill_partition",
    oracle="""
SELECT event_id, date_trunc('day', ts) AS day, event_type,
       round(CASE WHEN date_trunc('day', ts) = TIMESTAMP '2024-01-15'
                  THEN value * 2 ELSE value END, 6) AS value
FROM events
""",
    doc="Idempotent partition backfill via dynamic partition overwrite: "
    "events land partitioned by day; a corrected recomputation of "
    "2024-01-15 (values doubled) is written with "
    "partitionOverwriteMode=dynamic, which rewrites ONLY the partitions "
    "present in the incoming frame — every other day's files are "
    "untouched (no read-modify-write of 100 TB to fix one day). The "
    "read-back must equal the CASE-patched oracle, proving surgical "
    "replacement. The conf is set per-write via option(), so foreign "
    "driver sessions work unchanged.",
)
def etl_backfill_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        F.round("value", 6).alias("value"),
    )
    tmp = scratch_dir("cobradb_backfill_")
    path = os.path.join(tmp, "events_by_day")
    e.write.mode("overwrite").partitionBy("day").parquet(path)

    target = F.lit("2024-01-15").cast("timestamp_ntz")
    fix = e.filter(F.col("day") == target).withColumn(
        "value", F.round(F.col("value") * 2, 6)
    )
    (
        fix.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.select(
        "event_id",
        F.col("day").cast("timestamp_ntz").alias("day"),
        "event_type",
        "value",
    )


@register(
    "etl_compact_small_files",
    oracle="""
SELECT event_id, event_type, round(value, 6) AS value FROM events
""",
    doc="Small-file compaction — the maintenance pass every long-lived "
    "table needs: a fragmented landing zone (here deliberately written "
    "as 64 tiny files, the shape streaming ingestion leaves behind) is "
    "rewritten into size-targeted files. The target file count is "
    "derived from the actual on-disk bytes / 32 MiB, and the rewrite "
    "uses coalesce() — a NARROW dependency, so compaction never "
    "shuffles: each output task concatenates whole input files. "
    "Content identity is the oracle (compaction must be a no-op "
    "logically); the file-count collapse is asserted in "
    "tests/test_scale_patterns.py. At 100 TB this runs per-partition "
    "(compact only partitions whose avg file size is below target), "
    "which composes with etl_backfill_partition's dynamic overwrite.",
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 6).alias("value")
    )
    tmp = scratch_dir("cobradb_compact_")
    landing = os.path.join(tmp, "landing")
    compacted = os.path.join(tmp, "compacted")
    ev.repartition(64).write.mode("overwrite").parquet(landing)

    frag = spark.read.parquet(landing)
    total_bytes = sum(
        os.path.getsize(os.path.join(landing, f))
        for f in os.listdir(landing)
        if f.endswith(".parquet")
    )
    target = max(1, -(-total_bytes // (32 << 20)))  # ceil-div, 32 MiB files
    frag.coalesce(int(target)).write.mode("overwrite").parquet(compacted)
    return spark.read.parquet(compacted)


@register(
    "etl_incremental_join_refresh",
    oracle="""
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
""",
    doc="Incremental JOIN-view maintenance (delta-join algebra): the "
    "materialized view V = orders |><| customer |><| nation rolled up "
    "per nation. 'Yesterday's' V is built from orders with "
    "o_orderkey % 5 <> 0; today's delta dO (the remaining fifth) is "
    "joined against the dimensions ALONE — dV = dO |><| C |><| N, the "
    "static fact history is never rescanned or re-joined — and the two "
    "aggregate states merge by key (count+count, sum+sum). Equality "
    "with the full-recompute oracle proves the maintenance identity "
    "V(O u dO) = V(O) + V(dO), which holds because the dimensions are "
    "unchanged and sum/count are abelian. Dimension joins broadcast on "
    "both paths; sums go through DECIMAL(18,2) so the base+delta "
    "addition order cannot perturb float low bits.",
)
def etl_incremental_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def view_state(orders: DataFrame) -> DataFrame:
        return (
            orders.join(F.broadcast(c), c.c_custkey == orders.o_custkey)
            .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
            )
        )

    base = view_state(o.filter(F.col("o_orderkey") % 5 != 0))
    delta = view_state(o.filter(F.col("o_orderkey") % 5 == 0))
    return (
        base.unionAll(delta)
        .groupBy("n_name")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue").cast("double").alias("revenue"),
        )
    )


@register(
    "etl_snapshot_diff",
    oracle="""
WITH v_old AS (
  SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_orderkey % 97 <> 0
), v_new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 89 <> 0
), diff AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'deleted'
              WHEN o.price <> n.price THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
)
SELECT status, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS key_sum
FROM diff GROUP BY status
""",
    doc="Snapshot reconciliation between two table versions (the reference's "
    "database_version diff: which entities were added / deleted / changed "
    "between loads — cobradb's old-ID lineage tables record exactly this "
    "[P]). One full-outer join on the natural key classifies every row; "
    "key_sum is an order-independent audit fingerprint per class. At 100 TB "
    "both snapshots shuffle once on the key — or ZERO times if both are "
    "bucketed on it (see join_bucketed_colocated); the output is 4 rows.",
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    v_old = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    v_new = o.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    old_a, new_a = v_old.alias("o"), v_new.alias("n")
    diff = old_a.join(new_a, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full").select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("k"),
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "deleted")
        .when(F.col("o.price") != F.col("n.price"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return diff.groupBy("status").agg(
        F.count("*").alias("n"), F.sum("k").cast("long").alias("key_sum")
    )


@register(
    "etl_fk_containment",
    oracle="""
WITH pairs AS (
  SELECT 'lineitem.l_orderkey' AS child_col, 'orders.o_orderkey' AS parent_col,
         (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_child,
         (SELECT count(DISTINCT l_orderkey) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM orders)) AS n_contained
  UNION ALL
  SELECT 'orders.o_custkey', 'customer.c_custkey',
         (SELECT count(DISTINCT o_custkey) FROM orders),
         (SELECT count(DISTINCT o_custkey) FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM customer))
  UNION ALL
  SELECT 'lineitem.l_partkey', 'part.p_partkey',
         (SELECT count(DISTINCT l_partkey) FROM lineitem),
         (SELECT count(DISTINCT l_partkey) FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part)),
  UNION ALL
  SELECT 'customer.c_custkey', 'orders.o_custkey',
         (SELECT count(DISTINCT c_custkey) FROM customer),
         (SELECT count(DISTINCT c_custkey) FROM customer
          WHERE c_custkey IN (SELECT o_custkey FROM orders))
)
SELECT child_col, parent_col,
       CAST(n_child AS BIGINT) AS n_child,
       CAST(n_contained AS BIGINT) AS n_contained,
       round(CAST(n_contained AS DOUBLE) / n_child, 6) AS containment,
       n_contained = n_child AS fk_plausible
FROM pairs
""",
    doc="Foreign-key INFERENCE by value containment: for each candidate "
    "(child, parent) column pair, the fraction of distinct child values "
    "present in the parent — containment 1.0 marks a plausible FK, below "
    "1.0 quantifies orphan keys (the schema-discovery pass a catalog runs "
    "on unfamiliar data; complements fk_audit_anti, which ENFORCES declared "
    "FKs). Each side reduces to its distinct key set BEFORE the semi-join, "
    "so the joins carry |keys| rows; the reverse direction (customer -> "
    "orders) demonstrates a true negative: customers without orders.",
    tags=("etl",),
)
def etl_fk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    def pair(child_df, child_col, parent_df, parent_col, child_name, parent_name):
        child = child_df.select(F.col(child_col).alias("k")).distinct()
        parent = parent_df.select(F.col(parent_col).alias("k")).distinct()
        contained = child.join(parent, "k", "left_semi")
        return (
            child.agg(F.count("*").alias("n_child"))
            .crossJoin(contained.agg(F.count("*").alias("n_contained")))
            .select(
                F.lit(child_name).alias("child_col"),
                F.lit(parent_name).alias("parent_col"),
                "n_child",
                "n_contained",
                F.round(F.col("n_contained").cast("double") / F.col("n_child"), 6).alias(
                    "containment"
                ),
                (F.col("n_contained") == F.col("n_child")).alias("fk_plausible"),
            )
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    out = pair(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey", "orders.o_orderkey")
    out = out.unionAll(
        pair(o, "o_custkey", c, "c_custkey", "orders.o_custkey", "customer.c_custkey")
    )
    out = out.unionAll(
        pair(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey", "part.p_partkey")
    )
    return out.unionAll(
        pair(c, "c_custkey", o, "o_custkey", "customer.c_custkey", "orders.o_custkey")
    )


@register(
    "etl_cascade_delete_plan",
    oracle="""
WITH del_nation AS (
  SELECT n_nationkey FROM nation
  WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
), del_cust AS (
  SELECT c_custkey FROM customer WHERE c_nationkey IN (SELECT n_nationkey FROM del_nation)
), del_ord AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
), del_li AS (
  SELECT l_orderkey FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM del_ord)
)
SELECT 'nation' AS tbl, CAST((SELECT count(*) FROM del_nation) AS BIGINT) AS n_cascade
UNION ALL SELECT 'customer', CAST((SELECT count(*) FROM del_cust) AS BIGINT)
UNION ALL SELECT 'orders', CAST((SELECT count(*) FROM del_ord) AS BIGINT)
UNION ALL SELECT 'lineitem', CAST((SELECT count(*) FROM del_li) AS BIGINT)
""",
    doc="Cascade-delete impact analysis: the reference's Postgres schema "
    "deletes through FK chains (ON DELETE CASCADE); before a distributed "
    "engine rewrites immutable files, it PLANS the cascade — counting "
    "affected rows per table down the nation -> customer -> orders -> "
    "lineitem chain via chained LEFT SEMI joins. Each frontier is a "
    "broadcast-sized key set (keys only, never payload columns), so the "
    "fact table is probed by broadcast semi-join, not shuffled; the actual "
    "delete is then an anti-join rewrite of only the affected partitions "
    "(etl_backfill_partition's machinery).",
    tags=("etl",),
)
def etl_cascade_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region.select(F.col("r_regionkey").alias("n_regionkey"))),
        "n_regionkey",
        "left_semi",
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"))),
        "c_nationkey",
        "left_semi",
    )
    ords = load_table(spark, sf_dir, "orders").join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
        "left_semi",
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(ords.select(F.col("o_orderkey").alias("l_orderkey"))),
        "l_orderkey",
        "left_semi",
    )
    counts = [
        nation.agg(F.count("*").alias("n_cascade")).select(F.lit("nation").alias("tbl"), "n_cascade"),
        cust.agg(F.count("*").alias("n_cascade")).select(F.lit("customer").alias("tbl"), "n_cascade"),
        ords.agg(F.count("*").alias("n_cascade")).select(F.lit("orders").alias("tbl"), "n_cascade"),
        li.agg(F.count("*").alias("n_cascade")).select(F.lit("lineitem").alias("tbl"), "n_cascade"),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


@register(
    "etl_pack_sequences",
    oracle="""
WITH t AS (
  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS toks FROM documents
), c AS (
  SELECT doc_id, toks,
         CAST(COALESCE(sum(toks) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM t
), b AS (
  SELECT doc_id, toks, s, s + toks AS e FROM c WHERE toks > 0
)
SELECT doc_id, CAST(p.p AS BIGINT) AS pack_id,
       CAST(greatest(s, p.p * 2048) - p.p * 2048 AS BIGINT) AS seg_offset,
       CAST(least(e, (p.p + 1) * 2048) - greatest(s, p.p * 2048) AS BIGINT) AS seg_len
FROM b, UNNEST(range(s // 2048, ((e - 1) // 2048) + 1)) AS p(p)
""",
    doc="LLM training-sequence packing (concat-then-chunk): documents are laid "
    "end-to-end in doc_id order and cut into fixed 2048-token packs; a document "
    "straddling a boundary is split into per-pack segments with in-pack offsets "
    "— exactly what a packed-pretraining dataloader materializes.  The global "
    "token offset comes from operators/rank.py prefix_sums (range "
    "partition + per-partition offset), NOT a single-partition running window — "
    "the 100 TB-safe form of the classic cumsum.  Deterministic, so the DuckDB "
    "window-cumsum oracle value-hashes every segment.",
    tags=("llm", "etl"),
)
def etl_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import prefix_sums

    budget = 2048
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("toks")
    )
    laid = (
        prefix_sums(toks, [], ["doc_id"], ["toks"])
        .filter(F.col("toks") > 0)
        .withColumns({"s": F.col("toks_before"), "e": F.col("toks_before") + F.col("toks")})
    )
    seg = laid.withColumn(
        "pack_id",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / budget), F.floor((F.col("e") - 1) / budget)
            )
        ),
    )
    seg_start = F.greatest(F.col("s"), F.col("pack_id") * budget)
    seg_end = F.least(F.col("e"), (F.col("pack_id") + 1) * budget)
    return seg.select(
        "doc_id",
        F.col("pack_id").cast("long").alias("pack_id"),
        (seg_start - F.col("pack_id") * budget).cast("long").alias("seg_offset"),
        (seg_end - seg_start).cast("long").alias("seg_len"),
    )


@register(
    "etl_corpus_mixture",
    oracle="""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), wt AS (
  SELECT *, pow(tokens, 0.7) AS raw_w FROM per_src
), tot AS (SELECT sum(raw_w) AS tw FROM wt)
SELECT w.source, w.n_docs, w.tokens,
       round(w.raw_w / t.tw, 6) AS mix_weight,
       CAST(round(w.raw_w / t.tw * 1000000) AS BIGINT) AS quota_tokens,
       round(w.raw_w / t.tw * 1000000 / w.tokens, 6) AS epochs
FROM wt w, tot t
""",
    doc="Pretraining data-mixture planning: per-source token counts -> "
    "temperature-flattened sampling weights (w ~ tokens^0.7, the standard "
    "multilingual/multi-source flattening) -> token quotas for a 1M-token "
    "budget and implied epochs-per-source (quota/tokens > 1 means the "
    "source repeats).  One hash aggregate over the corpus plus a broadcast "
    "of the |sources|-row weight table — no global window, no driver math.",
    tags=("llm", "etl"),
)
def etl_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    budget = 1_000_000
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens"),
    )
    wt = per_src.withColumn("raw_w", F.pow("tokens", F.lit(0.7)))
    tot = wt.agg(F.sum("raw_w").alias("tw"))
    mix = F.col("raw_w") / F.col("tw")
    return wt.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        F.round(mix, 6).alias("mix_weight"),
        F.round(mix * budget).cast("long").alias("quota_tokens"),
        F.round(mix * budget / F.col("tokens"), 6).alias("epochs"),
    )


@register(
    "etl_dedup_incremental",
    oracle="""
WITH store AS (
  SELECT DISTINCT md5(text) AS sig FROM documents WHERE doc_id % 4 <> 0
), incoming AS (
  SELECT doc_id, md5(text) AS sig FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, md5(text) AS sig FROM documents WHERE doc_id % 8 = 1
)
SELECT i.doc_id, i.sig,
       NOT EXISTS (SELECT 1 FROM store s WHERE s.sig = i.sig) AS is_new
FROM incoming i
""",
    doc="Incremental corpus dedup — the shape every continuously-crawled "
    "corpus runs per snapshot: the historical corpus persists only a "
    "DISTINCT signature store (md5(text), written once to parquet, "
    "kilobytes per million docs), and each incoming batch anti-probes that "
    "store instead of rescanning history.  The store write + read-back "
    "runs for real through scratch parquet; the probe is a broadcast-able "
    "left join on the signature.  The incoming batch mixes genuinely new "
    "docs (doc_id % 4 = 0) with a re-crawl of already-ingested pages "
    "(doc_id % 8 = 1), so BOTH is_new outcomes occur and the dedup "
    "verdict is non-vacuous.",
    tags=("llm", "etl"),
)
def etl_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tmp = scratch_dir("cobradb_sigstore_")
    store = (
        d.filter(F.col("doc_id") % 4 != 0)
        .select(F.md5("text").alias("sig"))
        .distinct()
    )
    store.write.mode("overwrite").parquet(f"{tmp}/store")
    persisted = spark.read.parquet(f"{tmp}/store").withColumn("seen", F.lit(True))
    incoming = (
        d.filter(F.col("doc_id") % 4 == 0)
        .unionByName(d.filter(F.col("doc_id") % 8 == 1))
        .select("doc_id", F.md5("text").alias("sig"))
    )
    return incoming.join(persisted, "sig", "left").select(
        "doc_id", "sig", F.coalesce(~F.col("seen"), F.lit(True)).alias("is_new")
    )


_DSIR_BUCKETS = 64
_DSIR_KEEP_FRAC = 0.2


@register(
    "etl_importance_resample",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w FROM documents
),
tok AS (SELECT doc_id, lang, w FROM toks WHERE w <> ''),
b AS (SELECT doc_id, lang,
             CAST(CAST(concat('0x', substr(md5(w), 1, 15)) AS UBIGINT)
                  % {_DSIR_BUCKETS} AS BIGINT) AS bkt
      FROM tok),
src AS (SELECT bkt, count(*) AS s FROM b GROUP BY bkt),
tgt AS (SELECT bkt, count(*) AS t FROM b WHERE lang = 'en' GROUP BY bkt),
tot AS (SELECT (SELECT count(*) FROM b) AS s_all,
               (SELECT count(*) FROM b WHERE lang = 'en') AS t_all),
lam AS (SELECT src.bkt,
               ln((COALESCE(tgt.t, 0) + 1.0) / (tot.t_all + {_DSIR_BUCKETS}))
             - ln((src.s + 1.0) / (tot.s_all + {_DSIR_BUCKETS})) AS lam
        FROM src LEFT JOIN tgt ON tgt.bkt = src.bkt, tot),
scored AS (SELECT b.doc_id, min(b.lang) AS lang,
                  CAST(count(*) AS BIGINT) AS n_tokens,
                  round(avg(lam.lam), 6) AS score
           FROM b JOIN lam ON lam.bkt = b.bkt GROUP BY b.doc_id),
k AS (SELECT CAST(ceil({_DSIR_KEEP_FRAC} * count(*)) AS BIGINT) AS k
      FROM documents),
ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
           FROM scored)
SELECT doc_id, lang, n_tokens, score
FROM ranked, k WHERE rn <= k.k
""",
    doc="Data-selection-by-importance-resampling (DSIR shape): estimate "
    f"per-document importance weights from hashed word features ({_DSIR_BUCKETS} "
    "md5 buckets), target = the 'en' slice, source = the whole corpus, "
    "smoothed log-ratio lambda per bucket, per-doc score = mean lambda of "
    "its tokens; keep the top "
    f"{int(_DSIR_KEEP_FRAC * 100)}% by (score, doc_id).  Spark shape: "
    "token explode -> two partial-agg bucket count tables -> the "
    f"{_DSIR_BUCKETS}-row lambda table BROADCASTS into the token stream "
    "(no shuffle on the fact side beyond the per-doc agg), and the "
    "deterministic top-k materializes as TakeOrderedAndProject (k from a "
    "single count scalar), never a global single-partition window. "
    "Deterministic: no RNG, md5 bucketing, rerun-stable membership — the "
    "rank-based analogue of DSIR's Gumbel sampling. At 100 TB the lambda "
    "table stays tiny (bucket-count-sized) and every heavy stage is a "
    "map-side-combining hash agg.",
    tags=("etl", "mlprep"),
)
def etl_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    k = int(-(-_DSIR_KEEP_FRAC * n_docs // 1))  # ceil
    tok = (
        d.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
        ).filter(F.col("w") != "")
    )
    bkt = tok.withColumn(
        "bkt",
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
        % _DSIR_BUCKETS,
    ).select("doc_id", "lang", "bkt")
    src = bkt.groupBy("bkt").agg(F.count("*").alias("s"))
    tgt = (
        bkt.filter(F.col("lang") == "en")
        .groupBy("bkt")
        .agg(F.count("*").alias("t"))
    )
    tot = bkt.agg(
        F.count("*").alias("s_all"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("t_all"),
    )
    lam = (
        src.join(tgt, "bkt", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bkt",
            (
                F.log((F.coalesce("t", F.lit(0)) + F.lit(1.0)) / (F.col("t_all") + _DSIR_BUCKETS))
                - F.log((F.col("s") + F.lit(1.0)) / (F.col("s_all") + _DSIR_BUCKETS))
            ).alias("lam"),
        )
    )
    scored = (
        bkt.join(F.broadcast(lam), "bkt")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lam"), 6).alias("score"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
        .select("doc_id", "lang", "n_tokens", "score")
    )


@register(
    "etl_curriculum_order",
    oracle="""
WITH d AS (
  SELECT doc_id, source, n_chars,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens
  FROM documents
), feat AS (
  SELECT doc_id, source,
         n_chars * 1000 // ws_tokens AS difficulty_milli,
         CAST(CAST(concat('0x', substr(md5(concat('cur1',
              CAST(doc_id AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT)
             AS shuffle_key
  FROM d
), staged AS (
  SELECT *, ntile(4) OVER (ORDER BY difficulty_milli, doc_id) AS stage
  FROM feat
), interleaved AS (
  SELECT *, row_number() OVER (PARTITION BY stage, source
                               ORDER BY shuffle_key, doc_id) AS r
  FROM staged
)
SELECT doc_id, source, CAST(stage AS BIGINT) AS stage, difficulty_milli,
       CAST(row_number() OVER (ORDER BY stage, r, source, doc_id)
            AS BIGINT) AS curriculum_pos
FROM interleaved
""",
    doc="Curriculum scheduling for LLM training: every document gets an "
    "exact global training position — easy-to-hard stages (ntile(4) by "
    "difficulty = integer milli-chars-per-token), and WITHIN each stage "
    "a deterministic shuffle (md5 key) interleaved round-robin across "
    "sources (order by per-(stage,source) rank first), so no stage "
    "opens with a single-source clump. Scale posture: BOTH "
    "rank-the-world steps (the ntile staging and the final position) "
    "use the distributed closed form from operators/rank.py — "
    "repartitionByRange + per-partition offsets — never a "
    "single-partition window; the interleave rank partitions by "
    "(stage, source), which is fine-grained. The md5 shuffle key makes "
    "the epoch order reproducible without RNG state (re-runs and "
    "resumed jobs agree) — the same property the deterministic "
    "samplers rely on. Oracle: identical semantics via plain SQL "
    "windows (single-node DuckDB has no partition cliff).",
    tags=("etl", "llm"),
)
def etl_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import global_ntile, global_rank

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
    )
    h = F.md5(F.concat(F.lit("cur1"), F.col("doc_id").cast("string")))
    feat = d.select(
        "doc_id",
        "source",
        F.expr("div(n_chars * 1000, ws_tokens)").alias("difficulty_milli"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("shuffle_key"),
    )
    staged = global_ntile(
        feat,
        [F.col("difficulty_milli"), F.col("doc_id")],
        4,
        "stage",
    )
    from pyspark.sql import Window

    wi = Window.partitionBy("stage", "source").orderBy("shuffle_key", "doc_id")
    inter = staged.withColumn("r", F.row_number().over(wi))
    ranked = global_rank(
        inter,
        [F.col("stage"), F.col("r"), F.col("source"), F.col("doc_id")],
        "curriculum_pos",
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("stage").cast("bigint").alias("stage"),
        "difficulty_milli",
        F.col("curriculum_pos").cast("bigint").alias("curriculum_pos"),
    )


@register(
    "etl_late_arriving_dim",
    oracle="""
WITH joined AS (
  SELECT o.o_orderkey,
         CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         n.n_name,
         CASE WHEN c.c_custkey % 10 = 0 THEN 1 ELSE 0 END AS was_late
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(was_late) AS BIGINT) AS n_repaired,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM joined GROUP BY n_name
""",
    doc="Late-arriving-dimension repair (the warehouse pattern CDC/SCD2/"
    "backfill don't cover): at load time a tenth of the customer "
    "dimension (c_custkey % 10 = 0) has not arrived, so those orders "
    "land against a placeholder; when the late dim rows arrive, ONLY "
    "the placeholder subset re-joins — the repair scan is proportional "
    "to the unresolved rows, never a full fact rescan (the at-scale "
    "point: placeholders are a tiny filtered subset, and the late-dim "
    "side is small enough to broadcast). The final per-nation rollup "
    "counts how many orders were repaired and proves totals equal the "
    "all-dims-on-time join (the oracle computes exactly that with a "
    "was_late flag). Money accumulates as integer cents.",
    tags=("etl",),
)
def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    early = c.filter(F.col("c_custkey") % 10 != 0)
    late = c.filter(F.col("c_custkey") % 10 == 0)

    # load time: left join against the dims that have arrived
    loaded = o.join(
        F.broadcast(early), o["o_custkey"] == early["c_custkey"], "left"
    ).select(
        "o_orderkey", "o_custkey", "cents", "c_nationkey",
        F.lit(0).alias("was_late"),
    )
    resolved = loaded.filter(F.col("c_nationkey").isNotNull())
    placeholders = loaded.filter(F.col("c_nationkey").isNull()).drop(
        "c_nationkey", "was_late"
    )
    # repair: ONLY the placeholder subset re-joins the late arrivals
    repaired = placeholders.join(
        F.broadcast(late), placeholders["o_custkey"] == late["c_custkey"]
    ).select(
        "o_orderkey", "o_custkey", "cents", "c_nationkey",
        F.lit(1).alias("was_late"),
    )
    full = resolved.unionByName(repaired)
    return (
        full.join(F.broadcast(n), full["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("was_late").cast("bigint").alias("n_repaired"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


@register(
    "etl_vacuum_retention",
    oracle="""
WITH cents AS (
  SELECT event_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c FROM events
),
f AS (
  SELECT 'A'  AS file_label, 'vacuum' AS status,
         (SELECT count(*) FROM cents WHERE event_id % 3 = 0) AS n_rows
  UNION ALL
  SELECT 'B', 'active',
         (SELECT count(*) FROM cents WHERE event_id % 3 = 1)
  UNION ALL
  SELECT 'A2', 'retained-history',
         (SELECT count(*) FROM cents WHERE event_id % 3 = 0 AND c >= 5000)
  UNION ALL
  SELECT 'C', 'active',
         (SELECT count(*) FROM cents WHERE event_id % 3 = 2)
  UNION ALL
  SELECT 'A3', 'active',
         (SELECT count(*) FROM cents WHERE event_id % 3 = 0 AND c >= 10000)
)
SELECT file_label, status, CAST(n_rows AS BIGINT) AS n_rows,
       true AS retained_reads_intact
FROM f
""",
    doc="VACUUM planning for the transaction-log table format "
    "(scan_timetravel_log's mechanism, taken through its lifecycle "
    "question: which physical files may be deleted without breaking any "
    "RETAINED snapshot?).  The op builds a 5-commit history — add A, "
    "add B, rewrite A->A2 (delete-as-remove+add), add C, rewrite "
    "A2->A3 — sets the retention horizon at v3 (retain v3 and the "
    "current v4), and classifies every file ever added by replaying the "
    "log: 'active' (in the current snapshot), 'retained-history' "
    "(dropped from current but referenced by a retained snapshot — A2, "
    "the case naive 'not in current' vacuums corrupt), 'vacuum' (A: "
    "unreferenced by every retained snapshot).  The replay is O(commits) "
    "driver-side metadata, exactly like the table formats themselves; "
    "per-file row counts come from real parquet scans, and the op "
    "PHYSICALLY DELETES the vacuum-status files then re-reads every "
    "retained snapshot from disk, asserting post-delete row counts "
    "match the pre-vacuum capture (the verdict column the oracle pins "
    "true) — a wrong vacuum set fails the read, not just set algebra.  At 100 TB vacuum is the difference between a lake "
    "that grows monotonically and one that holds steady-state size; "
    "correctness hinges on the retained-union rule this op pins.",
    tags=("etl",),
)
def etl_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("c"),
    )
    root = scratch_dir("cobradb_vacuum_")
    log_dir = os.path.join(root, "_log")
    os.makedirs(log_dir, exist_ok=True)

    parts = {
        "A": ev.filter(F.col("event_id") % 3 == 0),
        "B": ev.filter(F.col("event_id") % 3 == 1),
        "A2": ev.filter((F.col("event_id") % 3 == 0) & (F.col("c") >= 5000)),
        "C": ev.filter(F.col("event_id") % 3 == 2),
        "A3": ev.filter((F.col("event_id") % 3 == 0) & (F.col("c") >= 10000)),
    }
    paths = {}
    for label, df in parts.items():
        paths[label] = os.path.join(root, f"part-{label}")
        df.write.mode("overwrite").parquet(paths[label])
    commits = [
        [("add", "A")],
        [("add", "B")],
        [("remove", "A"), ("add", "A2")],
        [("add", "C")],
        [("remove", "A2"), ("add", "A3")],
    ]
    for v, actions in enumerate(commits):
        with open(os.path.join(log_dir, f"{v:06d}.json"), "w") as f:
            for action, label in actions:
                f.write(json.dumps({"action": action, "path": paths[label]}) + "\n")

    by_path = {p: label for label, p in paths.items()}

    def _snapshot(version: int) -> set[str]:
        active: set[str] = set()
        logs = sorted(os.listdir(log_dir))[: version + 1]
        assert len(logs) == version + 1, f"missing commits for v{version}"
        for name in logs:
            for line in open(os.path.join(log_dir, name)):
                act = json.loads(line)
                (active.add if act["action"] == "add" else active.remove)(act["path"])
        return active

    current_v = len(commits) - 1
    retain_from = 3
    ever_added = list(paths.values())
    current = _snapshot(current_v)
    retained_union: set[str] = set()
    for v in range(retain_from, current_v + 1):
        retained_union |= _snapshot(v)

    def status(p: str) -> str:
        if p in current:
            return "active"
        if p in retained_union:
            return "retained-history"
        return "vacuum"

    # Post-vacuum integrity, tested by ACTUALLY DELETING the
    # vacuum-status files: capture every retained snapshot's row count
    # (and each file's) while all files still exist, physically rmtree
    # the vacuum set, then re-read each retained snapshot from disk.
    # If the retained-union rule ever marked a referenced file as
    # vacuum, the post-delete read would fail or shrink — the verdict
    # column can no longer be decided by the set algebra alone.
    import shutil

    pre_file_rows = {p: spark.read.parquet(p).count() for p in ever_added}
    pre_snap_rows = {
        v: spark.read.parquet(*sorted(_snapshot(v))).count()
        for v in range(retain_from, current_v + 1)
    }
    for p in ever_added:
        if status(p) == "vacuum":
            shutil.rmtree(p)
    intact = True
    for v in range(retain_from, current_v + 1):
        try:
            post = spark.read.parquet(*sorted(_snapshot(v))).count()
        except Exception:
            intact = False
            break
        intact = intact and (post == pre_snap_rows[v])

    rows = [
        (by_path[p], status(p), pre_file_rows[p], intact) for p in ever_added
    ]
    return spark.createDataFrame(
        rows, "file_label string, status string, n_rows long, retained_reads_intact boolean"
    )


# Lossless-promotion ladders for the contract classifier: within a
# family (integers <10, floats >=10) a strictly increasing rank is a
# safe widening; any other typed change is breaking.
_SCHEMA_LADDER = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
                  "float": 10, "double": 11}


def classify_schema_change(t1: str | None, t2: str | None) -> str:
    """Classify a column's gen1->gen2 type change for the data contract
    gate (module-scope so tests exercise THIS classifier, not a copy)."""
    if t1 is None:
        return "added"
    if t2 is None:
        return "removed"
    if t1 == t2:
        return "unchanged"
    if t1 in _SCHEMA_LADDER and t2 in _SCHEMA_LADDER:
        same_family = (_SCHEMA_LADDER[t1] < 10) == (_SCHEMA_LADDER[t2] < 10)
        if same_family and _SCHEMA_LADDER[t2] > _SCHEMA_LADDER[t1]:
            return "widened"
        if same_family:
            return "BREAKING-narrowed"
    return "BREAKING-incompatible"


@register(
    "etl_contract_schema_diff",
    oracle="""
SELECT * FROM (VALUES
  ('legacy_flag',     'int',    'bigint', 'widened'),
  ('o_orderkey',      'bigint', 'bigint', 'unchanged'),
  ('o_orderpriority', NULL,     'string', 'added'),
  ('o_orderstatus',   'string', NULL,     'removed'),
  ('o_totalprice',    'double', 'float',  'BREAKING-narrowed')
) AS t(column_name, gen1_type, gen2_type, status)
""",
    doc="Data-contract schema diff between two dataset generations — the "
    "governance gate a lake runs BEFORE registering a new producer "
    "drop: reads both generations' parquet FOOTERS (a driver-side "
    "metadata pass, the correct place for schema work — no data is "
    "scanned), aligns columns by name, and classifies each as "
    "unchanged / added / removed / widened (a lossless promotion along "
    "the int8<int16<int32<int64 and float32<float64 ladders, safe to "
    "auto-accept per the mergeSchema rules scan_schema_evolution "
    "exercises) / BREAKING-narrowed (lossy — the case that must block "
    "the drop; here o_totalprice demoted double->float).  The fixture "
    "builds both generations from orders with exactly one instance of "
    "each class.  The classifier is general over any pair of flat "
    "schemas; the oracle replays the known classification.",
    tags=("etl",),
)
def etl_contract_schema_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("cobradb_contract_")
    gen1, gen2 = os.path.join(root, "gen1"), os.path.join(root, "gen2")
    o.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        (F.col("o_orderkey") % 2).cast("int").alias("legacy_flag"),
    ).write.mode("overwrite").parquet(gen1)
    o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
        "o_orderpriority",
        (F.col("o_orderkey") % 2).cast("bigint").alias("legacy_flag"),
    ).write.mode("overwrite").parquet(gen2)

    s1 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(gen1).schema}
    s2 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(gen2).schema}
    rows = [
        (c, s1.get(c), s2.get(c), classify_schema_change(s1.get(c), s2.get(c)))
        for c in sorted(set(s1) | set(s2))
    ]
    return spark.createDataFrame(
        rows, "column_name string, gen1_type string, gen2_type string, status string"
    )


@register(
    "etl_incremental_agg_retract",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 <> 0
), cdc AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 >= 7 THEN 'D'
              WHEN o_orderkey % 3 = 0  THEN 'I'
              ELSE 'U' END AS op,
         CASE WHEN o_orderkey % 10 >= 7 OR o_orderkey % 3 = 0
              THEN o_orderstatus ELSE 'P' END AS o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) * 2 AS cents
  FROM orders WHERE o_orderkey % 2 = 0
), applied AS (
  SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
         coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
         coalesce(c.cents, b.cents) AS cents
  FROM base b FULL JOIN cdc c ON b.o_orderkey = c.o_orderkey
  WHERE NOT coalesce(c.op = 'D', FALSE)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM applied GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    doc="Retraction-aware incremental aggregate maintenance: a "
    "materialized per-status (count, exact-cents sum) state absorbs a "
    "CDC batch containing DELETES and CROSS-GROUP UPDATES (updates move "
    "rows to status 'P', so the old group must shrink while the new one "
    "grows) without re-aggregating history — the capability "
    "etl_incremental_agg's insert-only merge cannot express.  Every "
    "touched key contributes a retraction row (-1, -old_cents) against "
    "its OLD group and, unless deleted, an insertion row (+1, "
    "+new_cents) into its NEW group; state' = state + deltas in one "
    "5-group aggregate.  Only abelian-group aggregates (count/sum/avg) "
    "are maintainable this way — min/max are deliberately absent "
    "because a retraction can evict the current extremum, forcing a "
    "per-group rescan (the monotone-aggregate caveat every incremental "
    "view engine documents).  The oracle re-aggregates the CDC-applied "
    "table from scratch (the etl_cdc_apply MERGE semantics verbatim); "
    "equality proves the delta path is lossless.  Scale: history is "
    "never rescanned — old values for touched keys come from one "
    "key-equi join of the (small) change log against the base (a "
    "broadcast at realistic log sizes, a point lookup in a real state "
    "store), and the delta stream collapses map-side before touching "
    "the |groups|-row state.",
    tags=("etl",),
)
def etl_incremental_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", cents.alias("cents")
    )
    cdc = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 >= 7, "D")
        .when(F.col("o_orderkey") % 3 == 0, "I")
        .otherwise("U")
        .alias("op"),
        F.when(
            (F.col("o_orderkey") % 10 >= 7) | (F.col("o_orderkey") % 3 == 0),
            F.col("o_orderstatus"),
        )
        .otherwise(F.lit("P"))
        .alias("o_orderstatus"),
        (cents * 2).alias("cents"),
    )
    # the 'already materialized' state (in production: read back, never
    # recomputed — recomputed here only to build the fixture)
    state = base.groupBy("o_orderstatus").agg(
        F.count("*").alias("dn"), F.sum("cents").alias("dcents")
    )
    # retractions: every cdc key present in base pulls its OLD version
    # out of its OLD group (one key-equi join against the base — the
    # only history access, broadcastable at realistic log sizes)
    retract = base.join(F.broadcast(cdc.select("o_orderkey")), "o_orderkey").select(
        "o_orderstatus", F.lit(-1).alias("dn"), (-F.col("cents")).alias("dcents")
    )
    # insertions: every non-delete cdc row lands in its NEW group
    insert = cdc.filter(F.col("op") != "D").select(
        "o_orderstatus", F.lit(1).alias("dn"), F.col("cents").alias("dcents")
    )
    return (
        state.unionByName(retract)
        .unionByName(insert)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("dn").cast("bigint").alias("n"),
            F.sum("dcents").cast("bigint").alias("total_cents"),
        )
        .filter(F.col("n") > 0)
        .orderBy("o_orderstatus")
    )


@register(
    "etl_bitemporal_snapshot",
    oracle="""
WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
v AS (
  SELECT o_orderkey, o_orderstatus, o_orderdate AS rec,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_orderdate + INTERVAL 30 DAY,
         CAST(round(o_totalprice * 100) AS BIGINT) * 2
  FROM orders WHERE o_orderkey % 7 = 0
),
b AS (
  SELECT 'minus_60' AS belief, m - INTERVAL 60 DAY AS bd FROM mx
  UNION ALL
  SELECT 'latest' AS belief, m AS bd FROM mx
),
snap AS (
  SELECT b.belief, v.o_orderkey, v.o_orderstatus,
         max_by(v.cents, v.rec) AS cents
  FROM v JOIN b ON v.rec <= b.bd
  GROUP BY b.belief, v.o_orderkey, v.o_orderstatus
)
SELECT belief, o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM snap GROUP BY belief, o_orderstatus ORDER BY belief, o_orderstatus
""",
    doc="Bitemporal (transaction-time) snapshot — 'what did we believe "
    "on date B': every order has a version recorded at its order date, "
    "and a deterministic subset (key % 7 = 0) receives a RESTATEMENT "
    "recorded 30 days later (doubled cents, same valid entity); the "
    "report reconstructs the per-status totals AS BELIEVED at two "
    "transaction-time cutoffs (max order date minus 60 days, and "
    "latest — both DERIVED from the data, the SCD2-epoch lesson), "
    "taking each order's latest version recorded on or before the "
    "belief date via max_by(cents, rec).  Corrections visibly move the "
    "totals between the two snapshots while history stays replayable — "
    "the audit/restatement semantics SCD2 (valid time) alone cannot "
    "answer, completing the temporal family (SCD2 history, PIT join, "
    "time-travel log).  Scale: the belief table is 2 rows (broadcast "
    "into the version stream — the intended tiny-side nested-loop, the "
    "MaxSim precedent); version selection is one hash aggregate keyed "
    "(belief, order) with map-side partials; the final rollup is "
    "O(beliefs x statuses).",
    tags=("etl",),
)
def etl_bitemporal_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    v = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("rec"),
        cents.alias("cents"),
    ).unionByName(
        o.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("rec"),
            (cents * 2).alias("cents"),
        )
    )
    mx = o.agg(F.max("o_orderdate").alias("m"))
    b = mx.select(
        F.lit("minus_60").alias("belief"),
        (F.col("m") - F.expr("INTERVAL 60 DAY")).alias("bd"),
    ).unionByName(mx.select(F.lit("latest").alias("belief"), F.col("m").alias("bd")))
    snap = (
        v.join(F.broadcast(b), F.col("rec") <= F.col("bd"))
        .groupBy("belief", "o_orderkey", "o_orderstatus")
        .agg(F.expr("max_by(cents, rec)").alias("cents"))
    )
    return (
        snap.groupBy("belief", "o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("belief", "o_orderstatus")
    )


@register(
    "etl_scd3_current_previous",
    oracle="""
WITH h AS (
  SELECT o_custkey AS cust, o_orderkey AS k, o_orderdate AS d,
         o_orderpriority AS val,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
), cur AS (
  SELECT cust, val AS cur_val FROM h WHERE rn = 1
), prev AS (
  SELECT h.cust, h.val AS prev_val, h.d AS prev_seen,
         row_number() OVER (PARTITION BY h.cust
                            ORDER BY h.d DESC, h.k DESC) AS prn
  FROM h JOIN cur USING (cust)
  WHERE h.val <> cur.cur_val
)
SELECT c.cust, c.cur_val,
       p.prev_val, p.prev_seen
FROM cur c LEFT JOIN (SELECT * FROM prev WHERE prn = 1) p USING (cust)
""",
    doc="SCD type-3 derivation (current + previous attribute columns — "
    "the 'one step of history' dimension pattern next to the type-2 "
    "full-history merge in etl_scd2_history): per customer, the "
    "priority of the latest order is the CURRENT value, and the most "
    "recent earlier order with a DIFFERENT priority supplies the "
    "PREVIOUS value and its last-seen date (NULL when the value never "
    "changed). Deterministic ordering by (date, key) everywhere. "
    "Scale: both windows and the enrich join share ONE custkey "
    "shuffle (identical partitioning — the second window reuses the "
    "first's exchange); no fact rescans.",
    tags=("etl",),
)
def etl_scd3_current_previous(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderpriority").alias("val"),
    )
    w = Window.partitionBy("cust").orderBy(F.col("d").desc(), F.col("k").desc())
    h = o.withColumn("rn", F.row_number().over(w))
    cur = h.filter(F.col("rn") == 1).select("cust", F.col("val").alias("cur_val"))
    prev = (
        h.join(cur, "cust")
        .filter(F.col("val") != F.col("cur_val"))
        .withColumn("prn", F.row_number().over(w))
        .filter(F.col("prn") == 1)
        .select("cust", F.col("val").alias("prev_val"), F.col("d").alias("prev_seen"))
    )
    return cur.join(prev, "cust", "left").select(
        "cust", "cur_val", "prev_val", "prev_seen"
    )


@register(
    "etl_surrogate_keys",
    oracle="""
SELECT CAST(row_number() OVER (ORDER BY p_brand, p_partkey) AS BIGINT)
         AS surrogate_key,
       p_partkey, p_brand
FROM part
""",
    doc="Dense surrogate-key assignment for a dimension build (the "
    "warehouse-ETL step that replaces natural keys with compact "
    "monotonically-assigned integers, deterministic under reruns "
    "because the order is a total one: (brand, natural key)): "
    "surrogate = exact global row_number over the dimension — computed "
    "DISTRIBUTED via operators/rank.py (range-partition by the order "
    "key + per-partition offsets from a tiny count map), never the "
    "Exchange SinglePartition a naive unpartitioned row_number() "
    "plans. monotonically_increasing_id() is rejected deliberately: "
    "its values depend on partition layout (not rerun-stable, not "
    "dense). Scale: one range-exchange, O(1) driver state.",
    tags=("etl",),
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.rank import global_rank

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ranked = global_rank(
        p, [F.col("p_brand"), F.col("p_partkey")], rank_col="surrogate_key"
    )
    return ranked.select(
        F.col("surrogate_key").cast("bigint").alias("surrogate_key"),
        "p_partkey",
        "p_brand",
    )


@register(
    "etl_subject_access_export",
    oracle="""
WITH subjects AS (
  SELECT c_custkey AS subject FROM customer WHERE c_custkey % 293 = 0
)
SELECT s.subject, 'customer' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c.c_custkey) AS BIGINT) AS key_checksum
FROM subjects s JOIN customer c ON c.c_custkey = s.subject
GROUP BY s.subject
UNION ALL
SELECT s.subject, 'orders',
       CAST(count(*) AS BIGINT),
       CAST(sum(o.o_orderkey) AS BIGINT)
FROM subjects s JOIN orders o ON o.o_custkey = s.subject
GROUP BY s.subject
UNION ALL
SELECT s.subject, 'lineitem',
       CAST(count(*) AS BIGINT),
       CAST(sum(l.l_orderkey * 10 + l.l_linenumber) AS BIGINT)
FROM subjects s
JOIN orders o ON o.o_custkey = s.subject
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY s.subject
""",
    doc="Subject-access export manifest (the GDPR Article-15 'right of "
    "access' inventory, and the dual of etl_cascade_delete_plan's "
    "right-to-erasure impact set): for each data subject, how many "
    "rows exist in each table of the FK closure (customer -> orders "
    "-> lineitem) plus an order-independent key checksum per table so "
    "the export's exact row membership is value-hashed, not just "
    "counted. Scale: the subject list broadcasts into semi-join-"
    "shaped probes down the FK chain — each fact table is touched "
    "once, filtered at the scan by the broadcast keys (runtime filter "
    "/ DPP at a partitioned deployment); no fact-fact shuffle.",
    tags=("etl",),
)
def etl_subject_access_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    subjects = c.filter(F.col("c_custkey") % 293 == 0).select(
        F.col("c_custkey").alias("subject")
    )
    cust_rows = (
        c.join(F.broadcast(subjects), c["c_custkey"] == subjects["subject"])
        .groupBy("subject")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("c_custkey").cast("bigint").alias("key_checksum"),
        )
        .select("subject", F.lit("customer").alias("table_name"), "n_rows", "key_checksum")
    )
    ord_rows = (
        o.join(F.broadcast(subjects), o["o_custkey"] == subjects["subject"])
        .groupBy("subject")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        )
        .select("subject", F.lit("orders").alias("table_name"), "n_rows", "key_checksum")
    )
    li_rows = (
        li.join(
            o.join(F.broadcast(subjects), o["o_custkey"] == subjects["subject"])
            .select("o_orderkey", "subject"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("subject")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            .cast("bigint")
            .alias("key_checksum"),
        )
        .select("subject", F.lit("lineitem").alias("table_name"), "n_rows", "key_checksum")
    )
    return cust_rows.unionByName(ord_rows).unionByName(li_rows).select(
        "subject", "table_name", "n_rows", "key_checksum"
    )


@register(
    "etl_pseudonymize_consistent",
    oracle="""
WITH cmap AS (
  SELECT c_custkey,
         substr(md5(concat('pseu-salt-v1:', CAST(c_custkey AS VARCHAR))),
                1, 16) AS pseudonym
  FROM customer
), o AS (
  SELECT m.pseudonym, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o.o_totalprice * 100 AS DECIMAL(18,0))) AS BIGINT)
           AS cents
  FROM orders o JOIN cmap m ON m.c_custkey = o.o_custkey
  GROUP BY m.pseudonym
)
SELECT m.pseudonym, coalesce(o.n_orders, 0) AS n_orders,
       coalesce(o.cents, 0) AS cents
FROM cmap m LEFT JOIN o USING (pseudonym)
""",
    doc="Deterministic pseudonymization with referential consistency — "
    "the privacy-preserving export pattern (GDPR pseudonymisation, "
    "Art. 4(5)): the natural key is replaced by a salted-hash token "
    "(the salt models the separately-kept secret; rotate it and every "
    "pseudonym changes, which is the re-identification control), and "
    "the SAME token must appear for the same subject across every "
    "exported table — here proven by aggregating the orders fact "
    "under the pseudonym and landing exactly one row per customer "
    "with their true order count and exact cents. Complements "
    "etl_k_anonymize (generalization) and text_pii_redact (free-text "
    "scrubbing) with the keyed-identifier leg. Scale: the token is a "
    "narrow map on both tables (no lookup-table state to distribute); "
    "one keyed join + rollup.",
    tags=("etl",),
)
def etl_pseudonymize_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    token = lambda col: F.substring(
        F.md5(F.concat(F.lit("pseu-salt-v1:"), col.cast("string"))), 1, 16
    )
    cmap = c.select(token(F.col("c_custkey")).alias("pseudonym"))
    og = (
        o.select(
            token(F.col("o_custkey")).alias("pseudonym"),
            (F.col("o_totalprice") * 100).cast("decimal(18,0)").alias("c"),
        )
        .groupBy("pseudonym")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("c").cast("bigint").alias("cents"),
        )
    )
    return cmap.join(og, "pseudonym", "left").select(
        "pseudonym",
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce("cents", F.lit(0)).cast("bigint").alias("cents"),
    )


@register(
    "etl_one_big_table",
    oracle="""
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       CAST(CAST(o.o_totalprice * 100 AS DECIMAL(18,0)) AS BIGINT) AS cents,
       c.c_custkey, c.c_mktsegment, n.n_name AS nation, r.r_name AS region
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
""",
    doc="'One Big Table' denormalization — the serving-layer "
    "materialization warehouses export to BI/feature consumers so "
    "every downstream read is a single scan with zero joins: the "
    "orders fact widened through the customer -> nation -> region "
    "snowflake, every dim attached by BROADCAST hash join (asserted "
    "in the plan audits' star patterns), exact cents. The trade is "
    "explicit and documented: reads get join-free locality, writes "
    "pay dim-change amplification — which is why the SCD2/backfill "
    "ops exist alongside. Scale: one fact pass, three broadcast "
    "joins, no fact shuffle at all (the output keeps the fact's "
    "partitioning).",
    tags=("etl",),
)
def etl_one_big_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderpriority",
            (F.col("o_totalprice") * 100)
            .cast("decimal(18,0)")
            .cast("bigint")
            .alias("cents"),
            "c_custkey",
            "c_mktsegment",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )
