"""Known-tuple unit tests for composed operators (FIXTURES.md §3 style)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cobradb_spark.operators.asof import asof_join_backward
from cobradb_spark.operators.interval import interval_point_join
from cobradb_spark.operators.merge import insert_if_absent, merge_upsert


def test_merge_upsert_incoming_wins(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    incoming = spark.createDataFrame([(2, "B"), (4, "D")], "k long, v string")
    got = {(r.k, r.v) for r in merge_upsert(existing, incoming, ["k"]).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "D")}


def test_insert_if_absent_existing_wins(spark):
    existing = spark.createDataFrame([(1, "a")], "k long, v string")
    incoming = spark.createDataFrame([(1, "X"), (2, "y"), (2, "z")], "k long, v string")
    got = dict((r.k, r.v) for r in insert_if_absent(existing, incoming, ["k"]).collect())
    assert got[1] == "a"  # get_or_create: existing row kept
    assert got[2] in ("y", "z") and len(got) == 2


def test_interval_join_edge_semantics(spark):
    # mini_intervals: overlapping / touching / disjoint / zero-length (closed)
    iv = spark.createDataFrame(
        [("ov", 0, 10), ("touch", 10, 20), ("dis", 100, 110), ("zero", 50, 50)],
        "iv_id string, lo long, hi long",
    )
    pt = spark.createDataFrame(
        [(0,), (10,), (20,), (21,), (50,), (99,)], "p long"
    )
    got = {
        (r.iv_id, r.p)
        for r in interval_point_join(iv, pt, "lo", "hi", "p", bin_width=7).collect()
    }
    assert got == {
        ("ov", 0), ("ov", 10),          # closed interval includes both ends
        ("touch", 10), ("touch", 20),   # boundary point joins both intervals
        ("zero", 50),                   # zero-length interval matches its point
    }


def test_asof_backward_known_tuples(spark):
    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, 20, "L2"), (2, 5, "L3")], "by long, on long, l string"
    )
    right = spark.createDataFrame(
        [(1, 10, "R@10"), (1, 15, "R@15"), (2, 6, "R@6")], "by long, on long, rv string"
    )
    out = asof_join_backward(left, right, on="on", by="by", right_value_cols=["rv"])
    got = {(r.by, r.on, r.rv) for r in out.collect()}
    # ties included (on == on), later right rows not visible, no match -> null
    assert got == {(1, 10, "R@10"), (1, 20, "R@15"), (2, 5, None)}


def test_broadcast_in_flagship_plan(spark, sf_dir):
    """Scale posture: the dim joins in the flagship plan must be broadcast."""
    from cobradb_spark.queries.flagship import join_topn

    plan = join_topn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_observed_metrics_match_result(spark, sf_dir):
    """df.observe computes pipeline metrics during the action, no second
    scan — the observed row count / sum must equal the aggregate result."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    obs = Observation("orders_probe")
    observed = o.observe(
        obs, F.count(F.lit(1)).alias("rows_seen"), F.sum("o_totalprice").alias("price_sum")
    )
    agg = observed.agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s")).collect()[0]
    assert obs.get["rows_seen"] == agg.n
    assert abs(obs.get["price_sum"] - agg.s) < 1e-6


def test_recursive_cte_depth_is_log2(spark, sf_dir):
    """Binary-tree recursion sanity: depth of custkey k is floor(log2(k))+1."""
    import math

    from cobradb_spark import registry

    rows = registry.get_query("hierarchy_recursive_cte").fn(spark, sf_dir).collect()
    assert len(rows) == spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    for r in rows:
        want = 0 if r.custkey == 0 else int(math.log2(r.custkey)) + 1
        assert r.depth == want, (r.custkey, r.depth, want)


def test_global_ntile_matches_sql_ntile(spark):
    """Closed-form distributed ntile must equal Spark's own ntile() for
    every (n, k) shape: remainder buckets, exact division, n < k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cobradb_spark.operators.rank import global_ntile

    for n, k in [(10, 4), (12, 4), (3, 5), (1, 2), (7, 7)]:
        df = spark.range(n).select(F.col("id").alias("v"))
        got = {
            r.v: r.b
            for r in global_ntile(df, [F.col("v").asc()], k, "b").collect()
        }
        want = {
            r.v: r.b
            for r in df.select(
                "v", F.ntile(k).over(Window.orderBy("v")).cast("long").alias("b")
            ).collect()
        }
        assert got == want, f"n={n} k={k}: {got} != {want}"


def test_global_prefix_sum_exclusive(spark):
    from pyspark.sql import functions as F

    from cobradb_spark.operators.rank import prefix_sums, release_rank_caches

    df = spark.createDataFrame([(i, (i * 3) % 7 + 1) for i in range(20)], "id long, w long")
    out = {r.id: r.w_before for r in prefix_sums(df, [], [F.col("id").asc()], ["w"]).collect()}
    release_rank_caches()
    acc = 0
    for i in range(20):
        assert out[i] == acc
        acc += (i * 3) % 7 + 1


def test_prefix_dot_matches_bruteforce(spark):
    """prefix_dot == a pure-Python replay of sum_i w_i * (sum of c_j
    before i), per group and globally, with keys straddling the 2^16
    bucket edges (negative keys included), first-key ties broken by the
    second key, a one-row group, and the same answer at 1 and 7 shuffle
    partitions."""
    from cobradb_spark.operators.rank import prefix_dot

    keys = {
        "a": [0, 5, 65535, 65535, 65536, 65536, 131071, 131072, 131072, 200000],
        "b": [-70000, -1, 0, 65535, 65536, 65536, 131071, 300001, 300001],
        "c": [131071],
    }
    rows, i = [], 0
    for g, ks in keys.items():
        for k in ks:
            # tie key descends within a group so first-key ties replay
            # against the second order column, not insertion order
            rows.append((g, k, 1000 - i, (i * 7) % 5 + 1, (i * 3) % 4 - 1))
            i += 1
    df = spark.createDataFrame(rows, "g string, k long, t long, c long, w long")

    def replay(rs):
        acc = dot = 0
        for r in sorted(rs, key=lambda r: (r[1], r[2])):
            dot += r[4] * acc
            acc += r[3]
        return dot, sum(r[3] for r in rs), sum(r[4] for r in rs)

    want = {g: replay([r for r in rows if r[0] == g]) for g in keys}
    want_all = replay(rows)
    default = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            got = {
                r.g: (int(r.dot), r.c, r.w)
                for r in prefix_dot(
                    df, ["g"], ["k", "t"], c="c", w="w", sums=("c", "w")
                ).collect()
            }
            assert got == want, parts
            (r,) = prefix_dot(
                df, [], ["k", "t"], c="c", w="w", sums=("c", "w")
            ).collect()
            assert (int(r.dot), r.c, r.w) == want_all, parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)


def _build_jobs(spark, sf_dir, key):
    """The number of Spark jobs run while building `key`'s DataFrame,
    counted by a status-tracker job group around the build."""
    from cobradb_spark import registry

    sc = spark.sparkContext
    group = f"build-{key}"
    sc.setJobGroup(group, group)
    try:
        registry.get_query(key).fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _load_tables(spark, sf_dir, tables):
    """The first load of a table infers its parquet schema with a job;
    the session-wide schema cache serves every later build."""
    from cobradb_spark.io import load_events, load_table

    for table in tables:
        if table == "events":
            load_events(spark, sf_dir)
        else:
            load_table(spark, sf_dir, table)


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_rank_sum_keys_build_without_jobs_or_pins(spark, sf_dir):
    """The prefix_dot keys fold their rank sums into the plan: building
    the frame runs no Spark job and persists nothing.  The range-
    partitioned rank of agg_quantile_exact_global is the control that
    the job group does see build-time jobs."""
    from cobradb_spark.operators import rank

    _load_tables(spark, sf_dir, ("orders", "lineitem"))
    rank.release_rank_caches()
    try:
        for key in ("mlprep_roc_auc", "agg_gini_spend"):
            assert _build_jobs(spark, sf_dir, key) == 0, key
            assert _cache_manager(spark).isEmpty(), key
        assert _build_jobs(spark, sf_dir, "agg_quantile_exact_global") > 0
    finally:
        rank.release_rank_caches()


# Spark jobs run while each per-group rank.prefix_sums key is built:
# sampling the range boundaries, materializing the pinned frame and the
# one per-(partition, group) collect, and nothing else — no second scan
# of the input for group offsets or totals.  The undersample key adds
# its bounded class-count collect (a map stage and a result job).
_PREFIX_SUMS_BUILD_JOBS = {
    "agg_weighted_median_exact": 6,
    "agg_winsorized_trimmed_mean": 6,
    "mlprep_ks_statistic": 6,
    "mlprep_average_precision": 6,
    "events_peak_concurrency": 5,
    "analytics_quantile_treatment_effect": 7,
    "win_rolling_ols_slope": 5,
    "mlprep_undersample_balanced": 7,
}


def test_prefix_sums_keys_build_jobs(spark, sf_dir):
    from cobradb_spark.operators.rank import release_rank_caches

    _load_tables(spark, sf_dir, ("orders", "lineitem", "events"))
    got = {}
    for key in _PREFIX_SUMS_BUILD_JOBS:
        # released after each key: ks and average precision range-
        # partition the same grid, and a pinned frame left by one would
        # serve the other from the cache
        try:
            got[key] = _build_jobs(spark, sf_dir, key)
        finally:
            release_rank_caches()
    assert got == _PREFIX_SUMS_BUILD_JOBS


def test_wav_decoder_parses_handbuilt_container(spark):
    """decode_wav_features must parse a WAV we build by hand (independent
    of synthesize_wav) and report exact sample statistics."""
    import io
    import wave

    from cobradb_spark.operators.multimodal import decode_wav_features

    samples = [0, 100, -100, 32767, -32768, 5]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"".join(int(s).to_bytes(2, "little", signed=True) for s in samples))
    df = spark.createDataFrame([(7, buf.getvalue())], "id long, payload binary")
    row = decode_wav_features(df).collect()[0]
    assert (row.sample_rate, row.n_samples) == (16000, len(samples))
    assert (row.s_min, row.s_max) == (-32768, 32767)
    assert row.s_sum == sum(samples)
    assert row.ss_sum == sum(s * s for s in samples)


def test_ppm_decoder_resize_semantics(spark):
    """decode_ppm_features must parse the P6 header (dims not assumed)
    and subsample rows/cols by the stride."""
    import numpy as np

    from cobradb_spark.operators.multimodal import decode_ppm_features

    h, w = 4, 6
    img = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w, 3)
    payload = f"P6\n{w} {h}\n255\n".encode() + img.tobytes()
    df = spark.createDataFrame([(1, payload)], "id long, payload binary")
    row = decode_ppm_features(df, stride=2).collect()[0]
    small = img[::2, ::2, :].astype(int)
    assert (row.height, row.width) == (2, 3)
    assert (row.r_sum, row.g_sum, row.b_sum) == (
        small[:, :, 0].sum(), small[:, :, 1].sum(), small[:, :, 2].sum(),
    )


def test_motion_ppm_walker_handles_mixed_frame_sizes(spark):
    """The container walker derives each frame's size from ITS OWN header —
    frames of different dimensions in one container must decode correctly."""
    import numpy as np

    from cobradb_spark.operators.multimodal import decode_motion_ppm_frames

    def frame(h, w, fill):
        img = np.full((h, w, 3), fill, dtype=np.uint8)
        return f"P6\n{w} {h}\n255\n".encode() + img.tobytes()

    payload = frame(2, 2, 10) + frame(3, 1, 20) + frame(1, 4, 30)
    df = spark.createDataFrame([(5, payload)], "id long, payload binary")
    rows = {r.frame_no: r for r in decode_motion_ppm_frames(df, every_n=1).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0].r_sum == 10 * 4 and rows[1].r_sum == 20 * 3 and rows[2].r_sum == 30 * 4


def test_release_frees_persisted_frames_and_checkpoints(spark):
    """release_rank_caches frees a persisted frame and a local checkpoint:
    no persisted RDD is left, the cache manager holds no plan a later
    identical persist() could reuse, and a second release finds nothing."""
    from cobradb_spark.operators import rank

    persisted = spark.range(50).persist()
    assert persisted.count() == 50
    assert persisted.storageLevel.useMemory
    checkpoint = spark.range(30).localCheckpoint()
    assert checkpoint.count() == 30
    assert rank.release_rank_caches() >= 2
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert _cache_manager(spark).isEmpty()
    assert not persisted.storageLevel.useMemory
    assert rank.release_rank_caches() == 0


def test_query_build_keeps_other_queries_pins(spark, sf_dir):
    """Building a query must not release frames another built-but-
    unexecuted query still relies on; the harnesses release after each
    key."""
    from cobradb_spark import registry
    from cobradb_spark.operators import rank

    try:
        pinned = spark.range(50).persist()
        assert pinned.count() == 50
        registry.get_query("agg_quantile_exact_global").fn(spark, sf_dir)
        assert pinned.storageLevel.useMemory
    finally:
        rank.release_rank_caches()


def test_schema_diff_classifier_general_cases():
    """The contract classifier itself (not the fixture): widening is
    one-directional per numeric family, cross-family and narrowing are
    BREAKING, presence changes classify as added/removed.  Imports the
    production classifier — a regression in it fails HERE."""
    from cobradb_spark.queries.etl import classify_schema_change as classify

    assert classify("int", "bigint") == "widened"
    assert classify("bigint", "int") == "BREAKING-narrowed"
    assert classify("float", "double") == "widened"
    assert classify("double", "float") == "BREAKING-narrowed"
    assert classify("int", "double") == "BREAKING-incompatible"
    assert classify("string", "int") == "BREAKING-incompatible"
    assert classify(None, "string") == "added"
    assert classify("string", None) == "removed"
    assert classify("string", "string") == "unchanged"


def test_wav_resampler_exact_linear_interpolation(spark):
    """resample_wav_pcm on a hand-built WAV: the 3:2 upsample of a pure
    linear ramp must be exactly linear in the scaled domain (out3[j] =
    3 * ramp(2j/3)), and the general case must match a direct replay of
    the fixed-point formula."""
    import io
    import wave

    from cobradb_spark.operators.multimodal import resample_wav_pcm

    def wav(samples):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(
                b"".join(int(s).to_bytes(2, "little", signed=True) for s in samples)
            )
        return buf.getvalue()

    ramp = [3 * k for k in range(10)]  # v_i = 3i -> out3[j] = 3 * 2j = 6j
    jagged = [0, 100, -100, 32767, -32768, 5]
    df = spark.createDataFrame(
        [(1, wav(ramp)), (2, wav(jagged))], "id long, payload binary"
    )
    rows = {r.id: r for r in resample_wav_pcm(df).collect()}

    r1 = rows[1]
    n_out = (3 * (len(ramp) - 1)) // 2 + 1
    assert (r1.src_rate, r1.dst_rate, r1.n_in, r1.n_out) == (8000, 12000, len(ramp), n_out)
    expect1 = [6 * j for j in range(n_out)]
    assert (r1.o_min, r1.o_max) == (min(expect1), max(expect1))
    assert r1.o_sum == sum(expect1)
    assert r1.oo_sum == sum(x * x for x in expect1)

    def replay(v):
        out = []
        for j in range((3 * (len(v) - 1)) // 2 + 1):
            i, fr = (2 * j) // 3, (2 * j) % 3
            out.append(v[i] * (3 - fr) + (v[i + 1] if fr else 0) * fr)
        return out

    r2 = rows[2]
    expect2 = replay(jagged)
    assert r2.n_out == len(expect2)
    assert (r2.o_min, r2.o_max, r2.o_sum) == (min(expect2), max(expect2), sum(expect2))
    assert r2.oo_sum == sum(x * x for x in expect2)


def test_group_kfold_disjoint_and_complete(spark, sf_dir):
    """The group k-fold split must put every customer in exactly one fold
    (no entity leakage), cover every order, and match an independent
    row-level recomputation of fold membership."""
    from pyspark.sql import functions as F

    from cobradb_spark.io import load_table
    from cobradb_spark.queries.mlprep import _bucket, mlprep_group_kfold

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.select(
        "o_custkey", (_bucket("o_custkey", "kf") % 5).alias("fold")
    )
    # structural leakage check, asserted empirically: one fold per group
    n_multi = (
        per_cust.groupBy("o_custkey")
        .agg(F.countDistinct("fold").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert n_multi == 0
    got = {r["fold"]: r for r in mlprep_group_kfold(spark, sf_dir).collect()}
    assert set(got) == set(range(5))
    assert sum(r["n_rows"] for r in got.values()) == o.count()
    assert sum(r["n_groups"] for r in got.values()) == (
        o.select("o_custkey").distinct().count()
    )


def test_incremental_agg_retract_matches_full_recompute(spark, sf_dir):
    """The delta-maintained state must equal a from-scratch Spark
    re-aggregation of the CDC-applied table (engine-internal check,
    independent of the DuckDB oracle), and the cross-group move must
    actually be exercised (status 'P' gains rows vs the base state)."""
    from pyspark.sql import functions as F

    from cobradb_spark.io import load_table
    from cobradb_spark.registry import get_query

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
    applied = (
        base.alias("b")
        .join(cdc.alias("c"), F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full")
        .filter(~F.coalesce(F.col("c.op") == "D", F.lit(False)))
        .select(
            F.coalesce(F.col("c.o_orderstatus"), F.col("b.o_orderstatus")).alias("st"),
            F.coalesce(F.col("c.cents"), F.col("b.cents")).alias("cents"),
        )
    )
    expect = {
        r["st"]: (r["n"], r["tc"])
        for r in applied.groupBy("st")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("tc"))
        .collect()
    }
    got = {
        r["o_orderstatus"]: (r["n"], r["total_cents"])
        for r in get_query("etl_incremental_agg_retract").fn(spark, sf_dir).collect()
    }
    assert got == expect
    base_p = base.filter(F.col("o_orderstatus") == "P").count()
    assert got.get("P", (0, 0))[0] > base_p  # cross-group moves happened


def test_scene_sad_walker_handbuilt_container(spark):
    """decode_motion_ppm_scene_sads on a hand-built 3-frame container
    (dims parsed from headers, not assumed): identical consecutive
    frames give SAD 0, a full black->white jump gives exactly
    w*h*3*255."""
    import numpy as np

    from cobradb_spark.operators.multimodal import decode_motion_ppm_scene_sads

    w, h = 4, 2
    header = f"P6\n{w} {h}\n255\n".encode()
    f0 = header + bytes([0] * (w * h * 3))
    f1 = header + bytes([0] * (w * h * 3))
    f2 = header + bytes([255] * (w * h * 3))
    df = spark.createDataFrame([(9, f0 + f1 + f2)], "id long, payload binary")
    rows = {r.frame_no: r.sad for r in decode_motion_ppm_scene_sads(df).collect()}
    assert rows == {1: 0, 2: w * h * 3 * 255}


def test_l_diversity_python_replay(spark, sf_dir):
    """Replay distinct l-diversity in pure Python: per (nation, segment)
    class, distinct sensitive count, l>=3 verdict, and rows outside the
    plurality value (ties by (count desc, value))."""
    from collections import Counter, defaultdict

    from cobradb_spark.io import load_table
    from cobradb_spark.registry import get_query

    cust = {
        r["c_custkey"]: (str(r["c_nationkey"]), r["c_mktsegment"])
        for r in load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .collect()
    }
    classes = defaultdict(Counter)
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderpriority")
        .collect()
    ):
        if r["o_custkey"] in cust:
            classes[cust[r["o_custkey"]]][r["o_orderpriority"]] += 1
    expect = {}
    for k, cnt in classes.items():
        n = sum(cnt.values())
        mode_n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[1]
        expect[k] = (n, len(cnt), len(cnt) >= 3, n - mode_n)
    got = {
        (r["nat"], r["seg"]): (r["n_rows"], r["l_distinct"], r["diverse"], r["n_not_mode"])
        for r in get_query("etl_l_diversity_check").fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_bitemporal_snapshot_restatement_semantics(spark, sf_dir):
    """Python replay of the bitemporal report, plus the semantic pins:
    the 'latest' snapshot totals must differ from 'minus_60' exactly by
    the corrections whose 30-day-later recording falls inside the last
    60 days, and every order appears exactly once per belief date."""
    from collections import defaultdict
    from datetime import timedelta

    from cobradb_spark.io import load_table
    from cobradb_spark.registry import get_query

    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        .collect()
    )
    m = max(r["o_orderdate"] for r in rows)
    beliefs = {"minus_60": m - timedelta(days=60), "latest": m}
    expect = defaultdict(lambda: [0, 0])
    for belief, bd in beliefs.items():
        for r in rows:
            versions = [(r["o_orderdate"], round(r["o_totalprice"] * 100))]
            if r["o_orderkey"] % 7 == 0:
                versions.append(
                    (r["o_orderdate"] + timedelta(days=30),
                     round(r["o_totalprice"] * 100) * 2)
                )
            vis = [(rec, c) for rec, c in versions if rec <= bd]
            if vis:
                c = max(vis)[1]
                e = expect[(belief, r["o_orderstatus"])]
                e[0] += 1
                e[1] += c
    got = {
        (r["belief"], r["o_orderstatus"]): [r["n_orders"], r["total_cents"]]
        for r in get_query("etl_bitemporal_snapshot").fn(spark, sf_dir).collect()
    }
    assert got == dict(expect)
    # restatements must actually move the totals between the snapshots
    assert sum(v[1] for k, v in got.items() if k[0] == "latest") > sum(
        v[1] for k, v in got.items() if k[0] == "minus_60"
    )
