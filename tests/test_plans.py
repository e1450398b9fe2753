"""cobradb_spark.plans — the public plan-gating API (SURVEY §4.2's audit
checks, exposed for user pipelines)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cobradb_spark.plans import (
    PlanAssertionError,
    assert_scale_safe,
    canonical_plan_hash,
    formatted_plan,
    plan_summary,
)


def test_plan_summary_detects_broadcast_and_pushdown(spark, sf_dir):
    from cobradb_spark.queries.flagship import join_topn

    s = plan_summary(join_topn(spark, sf_dir))
    assert s.broadcast_hash_joins >= 2  # nation + region dims
    assert s.take_ordered == 1  # top-10 heap, not a global sort
    assert s.read_schemas  # column pruning visible at the scans
    assert s.cartesian_products == 0


def test_assert_scale_safe_passes_good_plan(spark, sf_dir):
    from cobradb_spark.queries.flagship import join_topn

    assert_scale_safe(join_topn(spark, sf_dir), forbid_nested_loop=True)


def test_assert_scale_safe_flags_global_window(spark, sf_dir):
    """The classic 100 TB mistake — row_number() with no partitionBy —
    must be caught as a single-partition funnel."""
    df = spark.range(1000).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    with pytest.raises(PlanAssertionError, match="single-partition"):
        assert_scale_safe(df)


def test_assert_scale_safe_flags_cartesian(spark):
    a, b = spark.range(10), spark.range(10)
    df = a.crossJoin(b.withColumnRenamed("id", "id2"))
    with pytest.raises(PlanAssertionError, match="Cartesian|NestedLoop"):
        assert_scale_safe(df, forbid_nested_loop=True)


def test_scalar_aggregate_allowance(spark, sf_dir):
    """A 1-row global aggregate legitimately plans one SinglePartition
    exchange — the documented opt-in."""
    from cobradb_spark.io import load_table

    df = load_table(spark, sf_dir, "orders").agg(F.sum("o_totalprice"))
    with pytest.raises(PlanAssertionError):
        assert_scale_safe(df)
    assert_scale_safe(df, max_single_partition_exchanges=1)


def test_cbo_catalog_stats_drive_join_reorder(spark, sf_dir):
    """SURVEY §4.2's CBO path, exercised end-to-end: ANALYZE TABLE
    populates catalog statistics, and with spark.sql.cbo.enabled +
    joinReorder the optimizer re-orders a 4-table join by cost instead
    of syntactic order.  Parquet TEMP VIEWS cannot carry catalog stats
    (no catalog entry to attach them to), so the test materializes real
    catalog tables first — the same step a 100 TB deployment runs after
    each load.  The syntactic order deliberately interposes an unkeyed
    customer join between lineitem and orders; the cost-based reorderer
    moves the PK-FK lineitem-orders pair first."""
    import re

    db = "cbo_test_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        for t in ("lineitem", "orders", "customer", "nation"):
            spark.read.parquet(f"{sf_dir}/{t}.parquet").write.mode(
                "overwrite"
            ).saveAsTable(f"{db}.{t}")
            spark.sql(f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS")
            spark.sql(f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS FOR ALL COLUMNS")

        stats = (
            spark.sql(f"DESC EXTENDED {db}.lineitem")
            .filter("col_name = 'Statistics'")
            .collect()
        )
        assert stats and "rows" in stats[0].data_type  # ANALYZE populated rowCount

        q = f"""
        SELECT n.n_name, count(*) AS cnt
        FROM {db}.lineitem l
        JOIN {db}.customer c ON c.c_custkey = l.l_orderkey % 1500
        JOIN {db}.orders o ON o.o_orderkey = l.l_orderkey
        JOIN {db}.nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
        """

        def leaf_order(cbo: bool) -> list[str]:
            spark.conf.set("spark.sql.cbo.enabled", str(cbo).lower())
            spark.conf.set("spark.sql.cbo.joinReorder.enabled", str(cbo).lower())
            plan = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
            return re.findall(rf"Relation spark_catalog\.{db}\.(\w+)", plan)

        order_off, order_on = leaf_order(False), leaf_order(True)
        assert order_off == ["lineitem", "customer", "orders", "nation"]
        assert order_on != order_off  # the reorderer actually fired
        # cost-based order joins the keyed lineitem-orders pair before customer
        assert order_on.index("orders") < order_on.index("customer")
        # results are order-independent: same rows either way
        rows_on = sorted(map(tuple, spark.sql(q).collect()))
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        rows_off = sorted(map(tuple, spark.sql(q).collect()))
        assert rows_on == rows_off and rows_on
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_runtime_bloom_filter_injected_on_selective_join(spark, sf_dir):
    """SURVEY §4's runtime-filter path: when a shuffle join has a
    selective creation side, Spark injects a Bloom filter that prunes
    the probe side BEFORE the shuffle (bloom_filter_agg on the filtered
    dim, might_contain on the fact scan). On a real cluster the size
    thresholds gate this to big probe sides; the test lowers the
    application-side threshold because sf-test files are tiny — the
    mechanism, not the sizing, is what's asserted."""
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    try:
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = formatted_plan(j)
        assert "bloom_filter_agg" in plan  # built on the selective dim side
        assert "might_contain" in plan  # applied on the fact probe side
        assert j.collect()  # and the filtered join still returns rows
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pipeline_curate_corpus_plan_is_scale_safe(spark, sf_dir):
    """The five-stage curation composition stays one scale-safe plan:
    no cartesian/nested-loop, eval grams broadcast, every Window
    partitioned (the dedup stages key on content fingerprints), and the
    curated subtree is evaluated once (<= 2 parquet scans)."""
    from cobradb_spark.registry import get_query

    df = get_query("pipeline_curate_corpus").fn(spark, sf_dir)
    assert_scale_safe(df, forbid_nested_loop=True)
    s = plan_summary(df)
    assert s.broadcast_hash_joins >= 1  # eval trigram set
    assert s.cartesian_products == 0
    assert len(s.read_schemas) <= 2, (
        f"curated subtree re-evaluated: {len(s.read_schemas)} scans"
    )


def test_plan_hash_ignores_shuffle_partition_count(spark, sf_dir):
    """The session sizes spark.sql.shuffle.partitions to the core count,
    which every hashpartitioning/rangepartitioning carries; the canonical
    hash must not change with it, or plans/HASHES.json would differ per
    machine."""
    from cobradb_spark.registry import get_query

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    plans = []
    try:
        for n in ("4", "7"):
            spark.conf.set(key, n)
            plans.append(formatted_plan(get_query("agg_basic").fn(spark, sf_dir)))
    finally:
        spark.conf.set(key, saved)
    assert "hashpartitioning(" in plans[0] and plans[0] != plans[1]
    assert canonical_plan_hash(plans[0]) == canonical_plan_hash(plans[1])


def test_plan_hash_ignores_detail_order_not_tree_order():
    """Catalyst lists some node details in JVM hash order (the Expand
    behind five or more count-distincts numbers its projections
    differently per JVM), so detail lines hash as token multisets; the
    operator tree still hashes in order."""
    tree = "== Physical Plan ==\nHashAggregate (3)\n+- Expand (2)\n   +- Scan parquet  (1)\n\n"
    a = tree + "(2) Expand\nArguments: [[a#1, null, 1], [null, b#2, 2]], [a#3, b#4, gid#5]\n"
    b = tree + "(2) Expand\nArguments: [[null, b#7, 1], [a#6, null, 2]], [b#8, a#9, gid#10]\n"
    assert canonical_plan_hash(a) == canonical_plan_hash(b)
    swapped = tree.replace("HashAggregate (3)\n+- Expand (2)", "Expand (3)\n+- HashAggregate (2)")
    assert canonical_plan_hash(swapped + a[len(tree):]) != canonical_plan_hash(a)


def test_plan_hash_ignores_literal_map_contents(spark):
    """rank.prefix_sums looks its offsets up in a literal map keyed by
    (partition id, group) structs; its entries follow the partition
    count and the sampled range boundaries, and the canonical hash must
    not, or plans/HASHES.json would differ per machine."""
    from cobradb_spark.operators.rank import prefix_sums, release_rank_caches

    df = spark.createDataFrame(
        [(i, "AN"[i % 2], i) for i in range(40)], "uid long, g string, v long"
    )
    try:
        plans = [
            formatted_plan(prefix_sums(df, ["g"], ["uid"], ["v"], num_parts=k))
            for k in (3, 4)
        ]
    finally:
        release_rank_caches()
    assert "map(keys: [[" in plans[0] and plans[0] != plans[1]
    assert canonical_plan_hash(plans[0]) == canonical_plan_hash(plans[1])
