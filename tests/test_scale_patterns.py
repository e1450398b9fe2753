"""Scale-pattern artifacts: salted joins, two-phase agg, bucketed joins.

These verify the 100 TB mechanisms behave correctly and produce the
plans they exist to produce (SURVEY §4.2-4.3)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from cobradb_spark.operators.skew import salted_join, two_phase_agg


def test_salted_join_matches_plain_join(spark):
    # 1 hot key (90% of rows) + long tail
    fact = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, k) for k in range(2, 102)], "k long, v long"
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 102)], "k long, name string")
    plain = {(r.k, r.v, r.name) for r in fact.join(dim, "k").collect()}
    salted = {
        (r["k"], r["v"], r["name"])
        for r in salted_join(fact, dim, "k", "k", salt=8).select(
            fact.k, "v", "name"
        ).collect()
    }
    assert salted == plain


def test_two_phase_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [(1, float(i)) for i in range(1000)] + [(2, 5.0)] * 10, "k long, v double"
    )
    plain = {
        (r.k, r.n, round(r.s, 6))
        for r in df.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()
    }
    two = {
        (r.k, r.n, round(r.s, 6))
        for r in two_phase_agg(df, "k", {"n": "count:*", "s": "sum:v"}, salt=4).collect()
    }
    assert two == plain


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """bucketBy co-locates both sides: the join plan must contain no
    Exchange — the at-scale answer to repeated joins on the same key."""
    wh = tempfile.mkdtemp(prefix="cobradb_wh_")  # external table paths
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .option("path", os.path.join(wh, "b_orders")).saveAsTable("b_orders"))
    (lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
     .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .option("path", os.path.join(wh, "b_lineitem")).saveAsTable("b_lineitem"))
    joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
    # disable auto-broadcast so the test exercises the SMJ path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_global_rank_matches_single_partition_window(spark):
    """operators/rank.py must reproduce row_number() OVER (ORDER BY ...) exactly,
    including duplicate keys broken by the tiebreaker, for sizes that do and
    don't divide evenly across partitions."""
    import random

    from pyspark.sql import Window

    from cobradb_spark.operators.rank import global_rank

    rng = random.Random(7)
    for n, parts in [(1, 2), (37, 4), (500, 8)]:
        rows = [(i, rng.randint(0, 20)) for i in range(n)]
        df = spark.createDataFrame(rows, "uid long, key long")
        got = {
            r["uid"]: r["rn"]
            for r in global_rank(
                df, [F.col("key"), F.col("uid")], rank_col="rn", num_parts=parts
            ).collect()
        }
        w = Window.orderBy("key", "uid")
        want = {
            r["uid"]: r["rn"]
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert got == want, f"n={n} parts={parts}"


def test_heavy_hitters_exact_across_partitionings(spark, sf_dir):
    """The MG candidate pass is partitioning-dependent, but the final
    answer must be EXACT for any partitioning (superset guarantee)."""
    from cobradb_spark.queries.sketches import agg_heavy_hitters
    from cobradb_spark.registry import all_queries

    fn = all_queries()["agg_heavy_hitters"].fn
    base = {(r.user_id, r.freq) for r in fn(spark, sf_dir).collect()}
    # exact reference
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    exact = {
        (r.user_id, r.freq)
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") > n / 128.0)
        .collect()
    }
    assert base == exact


def test_heavy_hitters_skewed_synthetic(spark):
    """Skewed data across several partition counts: every true heavy
    hitter survives the per-partition MG pruning (K=127 counters vs
    2000 distinct keys)."""
    import pandas as pd

    rows = [(0,)] * 5000 + [(1,)] * 900 + [(k,) for k in range(2, 2002)] * 2
    for parts in (1, 7, 32):
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["user_id"])).repartition(
            parts
        )
        n = len(rows)
        K = 127

        def mg(batches):
            counters = {}
            import numpy as np

            for pdf in batches:
                vc = pdf["user_id"].value_counts()
                for uid, c in vc.items():
                    counters[int(uid)] = counters.get(int(uid), 0) + int(c)
                if len(counters) > K:
                    vals = np.sort(np.fromiter(counters.values(), dtype=np.int64))
                    cut = int(vals[-(K + 1)])
                    counters = {u: c - cut for u, c in counters.items() if c > cut}
            yield pd.DataFrame({"user_id": list(counters.keys())})

        cands = {
            r.user_id for r in df.mapInPandas(mg, "user_id long").collect()
        }
        true_hh = {0, 1} if 900 > n / (K + 1) else {0}
        assert true_hh <= cands, f"parts={parts}: lost a true heavy hitter"


def test_compaction_collapses_files(spark, sf_dir):
    """The compaction query's rewrite must produce fewer files than the
    64-file landing zone while preserving row count."""
    import glob

    from cobradb_spark.registry import all_queries

    fn = all_queries()["etl_compact_small_files"].fn
    out = fn(spark, sf_dir)
    n_rows = out.count()
    files = out.inputFiles()
    assert len(files) < 64
    assert n_rows == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing invariants that hold for ANY corpus: (1) per-doc segment
    lengths sum to the doc's token count, (2) no segment crosses a pack
    boundary, (3) every pack except the last is filled to exactly the
    2048-token budget, (4) offsets are consistent with contiguous layout."""
    from pyspark.sql import functions as F

    from cobradb_spark import registry

    seg = registry.get_query("etl_pack_sequences").fn(spark, sf_dir).collect()
    budget = 2048
    by_doc, by_pack = {}, {}
    for r in seg:
        by_doc.setdefault(r.doc_id, 0)
        by_doc[r.doc_id] += r.seg_len
        by_pack.setdefault(r.pack_id, 0)
        by_pack[r.pack_id] += r.seg_len
        assert 0 <= r.seg_offset < budget
        assert r.seg_offset + r.seg_len <= budget  # (2) never crosses
        assert r.seg_len > 0

    from cobradb_spark.io import load_table

    toks = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for doc_id, total in by_doc.items():
        assert total == toks[doc_id]  # (1) reconstructs the doc

    last = max(by_pack)
    for pack_id, filled in by_pack.items():
        if pack_id != last:
            assert filled == budget  # (3) dense packing


def test_curriculum_order_properties(spark, sf_dir):
    """Positions are a permutation of 1..n; stages are monotone in
    (difficulty, doc_id); within a stage the order is r-major (the
    per-(stage,source) rank), which is what interleaves sources."""
    from collections import defaultdict

    from cobradb_spark.registry import get_query

    rows = sorted(
        get_query("etl_curriculum_order").fn(spark, sf_dir).collect(),
        key=lambda r: r["curriculum_pos"],
    )
    n = len(rows)
    assert [r["curriculum_pos"] for r in rows] == list(range(1, n + 1))
    # stage monotone in (difficulty, doc_id)
    marks = [(r["stage"], (r["difficulty_milli"], r["doc_id"])) for r in rows]
    by_stage = defaultdict(list)
    for s, key in marks:
        by_stage[s].append(key)
    stages = sorted(by_stage)
    assert stages == [1, 2, 3, 4]
    for a, b in zip(stages, stages[1:]):
        assert max(by_stage[a]) < min(by_stage[b])
    # r-major order within a stage (=> round-robin source interleave):
    # replaying per-source counters over the stage sequence must yield a
    # non-decreasing r sequence
    per_stage_r = defaultdict(list)
    for row in rows:
        per_stage_r[row["stage"]].append(row)
    for s, seq in per_stage_r.items():
        rs = []
        counts = defaultdict(int)
        for row in seq:
            counts[row["source"]] += 1
            rs.append(counts[row["source"]])
        assert rs == sorted(rs), f"stage {s} not r-major interleaved"


def test_global_quantiles_match_numpy(spark, sf_dir):
    import numpy as np

    from cobradb_spark.io import load_table
    from cobradb_spark.operators.rank import release_rank_caches
    from cobradb_spark.registry import get_query

    xs = np.sort(
        np.array(
            [
                r["l_extendedprice"]
                for r in load_table(spark, sf_dir, "lineitem")
                .select("l_extendedprice")
                .collect()
            ]
        )
    )
    row = get_query("agg_quantile_exact_global").fn(spark, sf_dir).first()
    release_rank_caches()  # the build pinned its range-partitioned frame
    assert row["n_rows"] == len(xs)
    for q, col in ((0.5, "p5"), (0.9, "p9"), (0.99, "p99"), (0.999, "p999")):
        expect = np.percentile(xs, q * 100, method="linear")
        assert abs(row[col] - expect) < 1e-9 * max(1.0, abs(expect)), (q, row[col], expect)
