"""k-means, inverted index, and autocorrelation property tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.operators.kmeans import kmeans_assign
from cobradb_spark.plans import formatted_plan
from cobradb_spark.registry import all_queries


def test_kmeans_assignment_complete_and_bounded(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = all_queries()["embed_kmeans_cluster"].fn(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == emb.count(), "every vector must get exactly one cluster"
    clusters = {r["cluster"] for r in rows}
    assert len(clusters) <= 8
    assert all(r["sqdist"] >= 0 for r in rows)


def test_kmeans_sse_non_increasing(spark, sf_dir):
    """Lloyd's algorithm guarantees SSE monotonically non-increasing."""
    emb = load_table(spark, sf_dir, "embeddings")
    sse = []
    for iters in (1, 2, 3):
        df = kmeans_assign(emb, k=8, iters=iters)
        sse.append(df.agg(F.sum("sqdist")).collect()[0][0])
    # tolerance for the per-iteration 1e-9 parity rounding
    assert sse[1] <= sse[0] + 1e-6
    assert sse[2] <= sse[1] + 1e-6


def test_kmeans_assigns_nearest_seed_for_single_iter(spark, sf_dir):
    """With iters=1 each vector must map to its truly nearest seed."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    }
    out = {
        int(r["vec_id"]): int(r["cluster"])
        for r in kmeans_assign(emb, k=8, iters=1).collect()
    }
    sample = emb.filter(F.col("vec_id") % 37 == 0).collect()
    for r in sample:
        v = [float(x) for x in r["embedding"]]
        best = min(
            seeds,
            key=lambda cid: (
                round(sum((a - b) ** 2 for a, b in zip(v, seeds[cid])), 9),
                cid,
            ),
        )
        assert out[int(r["vec_id"])] == best


def test_inverted_index_postings_sorted_and_consistent(spark, sf_dir):
    rows = all_queries()["text_inverted_index"].fn(spark, sf_dir).collect()
    assert rows, "sf0.001 corpus should have repeated terms"
    for r in rows:
        assert r["df"] >= 3
        # postings is a comma-delimited string of doc_ids (driver-hashable
        # projection); split before asserting sortedness/uniqueness
        posting_ids = [int(x) for x in r["postings"].split(",")]
        assert posting_ids == sorted(set(posting_ids))
        assert len(posting_ids) == r["df"]


def test_inverted_index_roundtrip_membership(spark, sf_dir):
    """Every posting must correspond to a doc actually containing the term."""
    d = load_table(spark, sf_dir, "documents")
    docs = {r["doc_id"]: set(r["text"].split(" ")) for r in d.collect()}
    rows = all_queries()["text_inverted_index"].fn(spark, sf_dir).collect()
    for r in rows[:50]:
        for doc_id in (int(x) for x in r["postings"].split(",")):
            assert r["term"] in docs[doc_id]


def test_autocorr_in_valid_range(spark, sf_dir):
    rows = all_queries()["ts_autocorr"].fn(spark, sf_dir).collect()
    assert rows
    assert {r["lag"] for r in rows} <= {1, 2, 3}
    for r in rows:
        if r["acf"] is not None:
            assert -1.0 - 1e-9 <= r["acf"] <= 1.0 + 1e-9


def test_khop_reach_monotone(spark, sf_dir):
    rows = all_queries()["graph_khop_reach"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["part_id"] % 50 == 0
        assert r["n_2hop"] >= r["n_1hop"] >= 1


def test_path_transitions_rows_normalized(spark, sf_dir):
    rows = all_queries()["analytics_path_transitions"].fn(spark, sf_dir).collect()
    assert rows
    by_from = {}
    for r in rows:
        assert r["n"] >= 1 and 0.0 < r["prob"] <= 1.0
        by_from.setdefault(r["from_type"], 0.0)
        by_from[r["from_type"]] += r["prob"]
    for total in by_from.values():
        assert abs(total - 1.0) < 1e-4


def test_corr_matrix_bounds(spark, sf_dir):
    rows = all_queries()["agg_corr_matrix"].fn(spark, sf_dir).collect()
    assert len(rows) == 6
    for r in rows:
        assert -1.0 <= r["r"] <= 1.0


def test_weighted_topk_shape_and_bias(spark, sf_dir):
    from cobradb_spark.io import load_table

    rows = all_queries()["sample_weighted_topk"].fn(spark, sf_dir).collect()
    per_lang = {}
    for r in rows:
        assert 0.0 <= r["wkey"] <= 1.0
        per_lang.setdefault(r["lang"], []).append(r)
    for lang_rows in per_lang.values():
        assert len(lang_rows) <= 5
        keys = [r["wkey"] for r in sorted(lang_rows, key=lambda x: x["rn"])]
        assert keys == sorted(keys, reverse=True)
    # weight bias: sampled docs should skew longer than the corpus median
    d = load_table(spark, sf_dir, "documents")
    med = d.approxQuantile("n_chars", [0.5], 0.0)[0]
    sampled = [r["n_chars"] for r in rows]
    assert sum(c > med for c in sampled) >= len(sampled) // 2


def test_mode_deterministic_argmax(spark, sf_dir):
    from cobradb_spark.io import load_table

    rows = all_queries()["agg_mode"].fn(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    counts = {}
    for r in o.groupBy("o_orderstatus", "o_orderpriority").count().collect():
        counts.setdefault(r["o_orderstatus"], {})[r["o_orderpriority"]] = r["count"]
    assert len(rows) == len(counts)
    for r in rows:
        grp = counts[r["o_orderstatus"]]
        best = min(grp, key=lambda v: (-grp[v], v))
        assert r["mode_priority"] == best and r["n"] == grp[best]


def test_skew_report_shares(spark, sf_dir):
    rows = all_queries()["profile_skew_keys"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    ns = [r["n"] for r in sorted(rows, key=lambda x: x["rnk"])]
    assert ns == sorted(ns, reverse=True)
    assert sum(r["share"] for r in rows) <= 1.0 + 1e-6
    # the heaviest key is necessarily at or above the mean key weight
    top = min(rows, key=lambda x: x["rnk"])
    assert top["ratio_to_avg"] >= 1.0

def test_fk_containment_directions(spark, sf_dir):
    rows = {
        (r["child_col"], r["parent_col"]): r
    for r in all_queries()["etl_fk_containment"].fn(spark, sf_dir).collect()}
    # declared FKs hold exactly
    assert rows[("lineitem.l_orderkey", "orders.o_orderkey")]["fk_plausible"]
    assert rows[("orders.o_custkey", "customer.c_custkey")]["fk_plausible"]
    assert rows[("lineitem.l_partkey", "part.p_partkey")]["fk_plausible"]
    for r in rows.values():
        assert 0.0 <= r["containment"] <= 1.0
        assert r["n_contained"] <= r["n_child"]


def test_shuffle_hash_hint_matches_plain_join(spark, sf_dir):
    hinted = all_queries()["join_shuffle_hash_hint"].fn(spark, sf_dir)
    from cobradb_spark.io import load_table
    from pyspark.sql import functions as F2

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    plain = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F2.count("*").alias("n_lines"),
            F2.round(F2.sum(F2.col("l_extendedprice") * (1 - F2.col("l_discount"))), 2).alias("revenue"),
        )
    )
    assert sorted(map(tuple, hinted.collect())) == sorted(map(tuple, plain.collect()))
    assert "ShuffledHashJoin" in hinted._jdf.queryExecution().executedPlan().toString()


def test_islands_are_maximal_consecutive_runs(spark, sf_dir):
    import datetime as dt

    rows = all_queries()["win_islands_ranges"].fn(spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in rows:
        span = (r["island_end"] - r["island_start"]).days + 1
        assert span == r["n_days"], "island must be gap-free"
        by_user.setdefault(r["user_id"], []).append(r)
    # islands of one user never touch or overlap (maximality)
    for islands in by_user.values():
        islands.sort(key=lambda r: r["island_start"])
        for a, b in zip(islands, islands[1:]):
            assert (b["island_start"] - a["island_end"]).days >= 2


def test_jaccard_neighbors_bounds(spark, sf_dir):
    rows = all_queries()["graph_jaccard_neighbors"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert 1 <= r["n_shared"] <= r["n_union"]
        assert 0.0 < r["jaccard"] <= 1.0


def test_cusum_telescopes_and_flags(spark, sf_dir):
    rows = all_queries()["events_changepoint_cusum"].fn(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r["day"])
        # increments of cusum must equal x - mu; recover mu from day 1
        mu = series[0]["x"] - series[0]["cusum"]
        run = 0.0
        for r in series:
            run += r["x"] - mu
            assert abs(run - r["cusum"]) < 1e-2


def test_corrupt_tolerant_quarantine_rate(spark, sf_dir):
    from cobradb_spark.io import load_table

    rows = all_queries()["scan_corrupt_tolerant"].fn(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    n_bad = e.filter((F.col("event_id") % 97) == 0).count()
    assert sum(r["n_corrupt"] for r in rows) == n_bad
    for r in rows:
        assert r["n_corrupt"] < r["n_rows"]
        assert r["sum_k"] is not None


def test_hll_intersect_tolerance(spark, sf_dir):
    from cobradb_spark.io import load_events

    rows = all_queries()["agg_hll_intersect_estimate"].fn(spark, sf_dir).collect()
    assert rows
    ev = load_events(spark, sf_dir).select("event_type", "user_id").distinct().collect()
    users = {}
    for r in ev:
        users.setdefault(r["event_type"], set()).add(r["user_id"])
    for r in rows:
        exact = len(users[r["type_a"]] & users[r["type_b"]])
        # the query self-grades: its exact column and verdict must agree
        # with an independently computed ground truth
        assert r["exact_intersect"] == exact
        assert r["est_within_tol"] is True, (r["type_a"], r["type_b"], exact)


def test_degree_distribution_integrates_to_one(spark, sf_dir):
    rows = all_queries()["graph_degree_distribution"].fn(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-3
    assert all(r["degree"] >= 1 and r["n_nodes"] >= 1 for r in rows)


def test_q3_q5_shapes(spark, sf_dir):
    q3 = all_queries()["sql_shipping_priority_q3"].fn(spark, sf_dir).collect()
    assert len(q3) <= 10
    revs = [r["revenue"] for r in q3]
    assert revs == sorted(revs, reverse=True)
    q5 = all_queries()["sql_local_supplier_volume_q5"].fn(spark, sf_dir).collect()
    assert all(r["revenue"] > 0 for r in q5)


def test_running_distinct_monotone_and_final(spark, sf_dir):
    from cobradb_spark.io import load_table

    rows = all_queries()["win_running_distinct"].fn(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    e = load_table(spark, sf_dir, "events")
    finals = {
        r["user_id"]: r["n"]
        for r in e.groupBy("user_id").agg(
            F.countDistinct("event_type").alias("n")
        ).collect()
    }
    for uid, urows in by_user.items():
        urows.sort(key=lambda r: (r["ts"], r["event_id"]))
        vals = [r["distinct_types_so_far"] for r in urows]
        assert vals[0] == 1
        assert all(b - a in (0, 1) for a, b in zip(vals, vals[1:]))
        assert vals[-1] == finals[uid]


def test_perplexity_positive_and_scaled(spark, sf_dir):
    rows = all_queries()["text_unigram_perplexity"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["perplexity"] >= 1.0
        assert r["n_tok"] >= 1


def test_phash_pairs_verified_hamming(spark, sf_dir):
    rows = all_queries()["multimodal_phash_dedup"].fn(spark, sf_dir).collect()
    assert rows, "content-bucket collisions must produce near-dup pairs"
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= 6


def test_cascade_plan_chain_consistency(spark, sf_dir):
    rows = {r["tbl"]: r["n_cascade"] for r in
            all_queries()["etl_cascade_delete_plan"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"nation", "customer", "orders", "lineitem"}
    assert rows["nation"] >= 1
    # every downstream level can only exist under a deleted parent
    assert rows["lineitem"] >= rows["orders"] >= 0


def test_growth_lags_align(spark, sf_dir):
    rows = all_queries()["rollup_growth_mom_yoy"].fn(spark, sf_dir).collect()
    rows.sort(key=lambda r: r["month"])
    assert rows[0]["mom_growth"] is None and rows[0]["yoy_growth"] is None
    for prev, cur in zip(rows, rows[1:]):
        if cur["mom_growth"] is not None:
            assert abs((cur["revenue"] / prev["revenue"] - 1.0) - cur["mom_growth"]) < 1e-4


def test_dpp_plan_has_dynamic_pruning(spark, sf_dir):
    df = all_queries()["join_dpp_partition_pruning"].fn(spark, sf_dir)
    assert "dynamicpruning" in formatted_plan(df)


def test_arrow_udf_uses_arrow_eval(spark, sf_dir):
    df = all_queries()["udf_arrow_optimized_scalar"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_rolling_median_window_sanity(spark, sf_dir):
    rows = all_queries()["rollup_rolling_median_7d"].fn(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    import statistics

    for series in by_type.values():
        series.sort(key=lambda r: r["day"])
        for i, r in enumerate(series):
            frame = [s["x"] for s in series[max(0, i - 6): i + 1]]
            assert abs(r["med7"] - round(statistics.median(frame), 6)) < 1e-6


def test_q4_exists_semantics(spark, sf_dir):
    from cobradb_spark.io import load_table
    import datetime as dt

    rows = all_queries()["sql_order_priority_exists_q4"].fn(spark, sf_dir).collect()
    total = sum(r["n_orders"] for r in rows)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        o.filter(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
        )
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("o_orderkey")
        .distinct()
        .count()
    )
    assert total == joined


def test_q17_below_half_average(spark, sf_dir):
    rows = all_queries()["sql_small_quantity_scalar_q17"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_small_lines"] >= 1 and r["small_revenue"] > 0


def test_chained_stream_agg_matches_batch_closed_hours(spark, sf_dir):
    import datetime as dt
    from cobradb_spark.io import load_events

    rows = all_queries()["stream_chained_stateful_agg"].fn(spark, sf_dir).collect()
    assert rows
    ev = load_events(spark, sf_dir)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    for r in rows:
        # only hours fully closed by the 2h watermark may be emitted
        assert r["hour_start"] + dt.timedelta(hours=3) <= max_ts + dt.timedelta(hours=1)
        assert r["active_users"] >= 1
        assert r["total_events"] >= r["active_users"]


def test_sorted_neighborhood_cross_side_and_threshold(spark, sf_dir):
    rows = all_queries()["dedup_sorted_neighborhood"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r["side_a"] != r["side_b"]
        assert 0 <= r["dist"] <= 3


def test_udtf_analyze_schema_follows_args(spark, sf_dir):
    df = all_queries()["udtf_polymorphic_analyze"].fn(spark, sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "o_orderkey", "col_0", "val_0", "col_1", "val_1"]


def test_k_anonymize_released_groups_are_k_anonymous(spark):
    """Every released (non-'*') quasi-identifier tuple must cover >= k
    customers, and suppressed rows must be marked '*' across the board."""
    rows = all_queries()["etl_k_anonymize"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows
    K = 5
    for r in rows:
        released = (r["rel_nat"], r["rel_seg"], r["rel_bucket"])
        if released != ("*", "*", "*"):
            assert r["n"] >= K, f"released group below k: {r}"
        else:
            assert r["n"] < K or r["level"] == 4
    # levels are consistent across the output
    assert len({r["level"] for r in rows}) == 1


def test_calibration_bins_monotone_and_consistent(spark, sf_dir):
    """Reliability-bin pins: 10 bins covering the score axis, counts sum
    to the population, mean score sits inside its bin, and because the
    label is monotone-correlated with the score by construction the
    outcome rate is non-decreasing across bins (strictly increasing
    through the mixed-bin middle of the ramp)."""
    rows = sorted(
        all_queries()["mlprep_calibration_bins"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    assert [r.bin for r in rows] == list(range(10))
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.n for r in rows) == n_orders
    for r in rows:
        assert r.bin * 100000 <= r.mean_score_ppm < (r.bin + 1) * 100000
        assert 0 <= r.outcome_rate_ppm <= 1000000
        assert r.abs_gap_ppm == abs(r.mean_score_ppm - r.outcome_rate_ppm)
    rates = [r.outcome_rate_ppm for r in rows]
    assert rates == sorted(rates)
    # label = [score*3 + noise > 1.5e6]: bins below 1/6 are all-negative,
    # bins above 1/2 all-positive
    assert rates[0] == 0 and rates[-1] == 1000000
