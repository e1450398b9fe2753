"""Distributed ranks and prefix sums — the scale-safe ranking primitives.

A plain `row_number() OVER (ORDER BY ...)` funnels every row through ONE
partition (Catalyst plans a single-partition window) — the classic
100 TB cliff.  This module computes the same statistics distributed, in
two shapes chosen by what the consumer does with the rank.

Per-row consumers (a quantile pick, a running maximum, ntile, a
winsorized cut) need the rank or prefix ON each row.  global_rank,
global_prefix_sum(s) and friends compute it with a range partition:

1. `repartitionByRange` on the order keys — partition i holds a
   contiguous, disjoint key range, ranges ascending with partition id;
2. per-partition counts -> driver (K tiny rows), prefix-summed into
   per-partition global offsets;
3. a window PARTITIONED by the range-partition id (so it shuffles by
   pid, never collapses to one task) computes local row_number, and
   `offset[pid] + local` is the exact global rank.

Ties must be fully broken by the order keys (callers append a unique
key), which makes the result independent of where the sampled range
boundaries happen to fall.  The sampled frame is persisted and pinned
(see the RELEASE CONTRACT below) and the offsets cost driver collects.

Linear consumers (a Mann-Whitney rank sum, Gini's sum of rank * x) only
SUM the rank against a weight.  prefix_dot serves them inside one plan:
rows bucket by a pure function of the first order key, a window per
(group, bucket) gives the in-bucket prefix, and a window over the small
per-bucket table gives each bucket its offset.  No sampling, no persist,
no collect: building the frame runs no Spark job.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Persisted range-partitioned frames, pinned until the caller's result is
# materialized.  The persist is load-bearing for correctness (the offset
# map is computed from ONE evaluation of the sampled range partitioning;
# an unpersisted recompute could resample different boundaries), so the
# frames cannot be unpersisted inside the operator.
#
# RELEASE CONTRACT (round-4 ADVICE — this is module API, not an
# implementation detail): every pin()/pin_cache() leaks a persisted
# frame until release_rank_caches() runs.  The repo's harnesses —
# bench.py, tools/check.py, tools/bench_once.py, tools/op_sweep.py,
# tools/scaling_probe.py and perfbench/worker.py — call it after each
# query's result is collected; tools/plan_audit.py and
# tools/explain_dump.py after each key's plan.  No query build calls
# it: that would drain pins another built-but-unexecuted query still
# relies on.  __spark_entry__ does not: under the
# external verify driver the pins live until its session ends.  Any
# OTHER caller that materializes its result must call
# release_rank_caches() itself once the result is collected.  Guarded
# by a lock: the registry is shared module state and query builds may
# race from multiple threads.
_PINNED: list[DataFrame] = []
_PINNED_LOCK = threading.Lock()


def pin(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame for release_rank_caches().

    For frames persisted inside an operator (e.g. a range-partitioned
    frame tagged with its partition id) that must outlive the function
    until the caller collects."""
    with _PINNED_LOCK:
        _PINNED.append(df)
    return df


# internal alias kept for the module's own helpers
_pin = pin


def pin_cache(df: DataFrame) -> DataFrame:
    """persist() a frame that multiple downstream subtrees re-evaluate,
    registered for release_rank_caches() — the query-local caching idiom
    (iterative graph loops, multi-reference edge lists).  See the
    RELEASE CONTRACT above: callers outside the standard harnesses must
    call release_rank_caches() after materializing their result."""
    return pin(df.persist())


def release_rank_caches() -> int:
    """Unpersist every pinned frame; safe once downstream results are
    materialized.  Returns the number released."""
    with _PINNED_LOCK:
        drained, _PINNED[:] = _PINNED[:], []
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def global_rank_with_total(
    df: DataFrame, order_cols: list[Column], rank_col: str, num_parts: int | None = None
) -> tuple[DataFrame, int]:
    """Shared core: (frame with exact global row_number, total row count).

    The total is free — it is the final prefix-sum accumulator — so
    callers that need n (ntile, percent_rank, cume_dist) pay no extra
    action."""
    k = num_parts or max(df.sparkSession.sparkContext.defaultParallelism, 2)
    tagged = _pin(
        df.repartitionByRange(k, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r._pid: r["count"] for r in tagged.groupBy("_pid").count().collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked = (
        tagged.withColumn(
            rank_col, (off_map[F.col("_pid")] + F.row_number().over(w)).cast("long")
        )
        .drop("_pid")
    )
    return ranked, acc


def global_rank(
    df: DataFrame, order_cols: list[Column], rank_col: str = "rank", num_parts: int | None = None
) -> DataFrame:
    """Add `rank_col` = exact global row_number by `order_cols`, distributed.

    `order_cols` must define a TOTAL order (append a unique tiebreaker).
    """
    ranked, _ = global_rank_with_total(df, order_cols, rank_col, num_parts)
    return ranked


def global_ntile(
    df: DataFrame,
    order_cols: list[Column],
    k: int,
    out_col: str,
    num_parts: int | None = None,
) -> DataFrame:
    """Exact SQL ntile(k) by `order_cols` WITHOUT a single-partition
    window: bucket = closed-form function of the distributed global rank
    and the total count n (first n%k buckets hold ceil(n/k) rows, the
    rest floor(n/k)) — identical to the standard ntile semantics when
    `order_cols` is a total order."""
    rank_col = "_ntile_rn"
    while rank_col in df.columns:
        rank_col += "_"
    ranked, n = global_rank_with_total(df, order_cols, rank_col, num_parts)
    return ranked.withColumn(
        out_col, ntile_expr(F.col(rank_col), n, k).cast("long")
    ).drop(rank_col)


def ntile_expr(rn: Column, n: int, k: int) -> Column:
    """Closed-form SQL ntile(k) bucket for global row_number `rn` over a
    total order of n rows: the first n%k buckets hold ceil(n/k) rows,
    the rest floor(n/k)."""
    q, r = divmod(n, k)
    if q == 0:  # fewer rows than buckets: one row per bucket
        return rn
    head = r * (q + 1)  # rows living in the size-(q+1) buckets
    return F.when(rn <= head, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - head) / q)
    )


def global_pct_rank(
    df: DataFrame,
    order_cols: list[Column],
    pr_col: str = "pr",
    cd_col: str = "cd",
    rank_col: str | None = None,
    num_parts: int | None = None,
) -> DataFrame:
    """Exact percent_rank and cume_dist by a TOTAL order (unique
    tiebreaker ⇒ rank == row_number, so pr = (rn-1)/(n-1) and
    cd = rn/n), from the distributed global rank — no single-partition
    window."""
    rc = rank_col or "_pct_rn"
    drop_rank = rank_col is None
    while drop_rank and rc in df.columns:
        rc += "_"
    ranked, n = global_rank_with_total(df, order_cols, rc, num_parts)
    rn = F.col(rc)
    pr = (rn - 1) / (n - 1) if n > 1 else F.lit(0.0)
    out = ranked.withColumn(pr_col, pr.cast("double")).withColumn(
        cd_col, (rn / n).cast("double")
    )
    return out.drop(rc) if drop_rank else out


def global_prefix_sums(
    df: DataFrame,
    order_cols: list[Column],
    value_cols: dict[str, str],
    num_parts: int | None = None,
    with_frame_and_totals: bool = False,
):
    """Multi-column global_prefix_sum: add one EXCLUSIVE prefix-sum
    column per (value_col -> out_col) entry in ONE range-partition
    shuffle and ONE driver collect (r8 review: the KS/AP grid queries
    were paying two repartitionByRange passes for two prefix columns).

    Same scale contract as global_prefix_sum; `order_cols` must define a
    TOTAL order.

    with_frame_and_totals=True returns (out, tagged, totals) where
    `tagged` is the PERSISTED range-partitioned frame (feed it to
    per_group_offsets so group totals come from the cache, not a second
    scan of the caller's unpersisted lineage — r8 ADVICE) and `totals`
    maps value_col -> grand total (the final prefix accumulator, free —
    callers needing the overall sum pay no extra action)."""
    k = num_parts or max(df.sparkSession.sparkContext.defaultParallelism, 2)
    tagged = _pin(
        df.repartitionByRange(k, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    aggs = [F.sum(v).alias(v) for v in value_cols]
    per_pid = {r._pid: r for r in tagged.groupBy("_pid").agg(*aggs).collect()}
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = tagged
    totals: dict[str, int] = {}
    for v, out_col in value_cols.items():
        offsets, acc = {}, 0
        for pid in sorted(per_pid):
            offsets[pid] = acc
            acc += per_pid[pid][v] or 0
        totals[v] = acc
        off_map = F.create_map(
            *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
        )
        local = F.coalesce(F.sum(v).over(w), F.lit(0))
        out = out.withColumn(out_col, (off_map[F.col("_pid")] + local).cast("long"))
    out = out.drop("_pid")
    if with_frame_and_totals:
        return out, tagged, totals
    return out


def per_group_offsets(
    g: DataFrame, group_col: str, value_cols: list[str]
) -> tuple[dict[str, dict], dict[str, dict]]:
    """Shared scaffolding for composite-order prefix sums consumed
    per group (r8 review: five near-identical copies): collect per-group
    totals for each value column (|groups| tiny rows), derive the
    EXCLUSIVE offsets in group sort order, and return
    (offsets[value_col][group], totals[value_col][group]).  Callers wrap
    them in F.create_map literals."""
    rows = g.groupBy(group_col).agg(
        *[F.sum(v).alias(v) for v in value_cols]
    ).collect()
    by_group = {r[group_col]: r for r in rows}
    offsets: dict[str, dict] = {v: {} for v in value_cols}
    totals: dict[str, dict] = {v: {} for v in value_cols}
    for v in value_cols:
        acc = 0
        for gk in sorted(by_group):
            offsets[v][gk] = acc
            tot = by_group[gk][v] or 0
            totals[v][gk] = tot
            acc += tot
    return offsets, totals


def lit_map(d: dict) -> Column:
    """F.create_map literal from a small python dict (broadcast lookup)."""
    return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "prefix_sum",
    num_parts: int | None = None,
    with_frame: bool = False,
):
    """Add `out_col` = EXCLUSIVE prefix sum of `value_col` in the total
    order defined by `order_cols`, distributed.

    Same scale-safe shape as global_rank: a plain running SUM() OVER
    (ORDER BY ...) is a single-partition window; here partition i's rows
    get `global_offset[i] + local running sum`, where the offsets are the
    prefix-summed per-partition totals (K tiny rows to the driver).
    `order_cols` must define a TOTAL order (append a unique tiebreaker).

    with_frame=True returns (out, tagged): `tagged` is the PERSISTED
    range-partitioned frame — feed it to per_group_offsets so group
    totals aggregate the cache, not a second pass over the caller's
    unpersisted lineage (r8 ADVICE).
    """
    k = num_parts or max(df.sparkSession.sparkContext.defaultParallelism, 2)
    tagged = _pin(
        df.repartitionByRange(k, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    sums = {
        r._pid: r["s"] or 0
        for r in tagged.groupBy("_pid").agg(F.sum(value_col).alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(value_col).over(w), F.lit(0))
    out = tagged.withColumn(
        out_col, (off_map[F.col("_pid")] + local).cast("long")
    ).drop("_pid")
    if with_frame:
        return out, tagged
    return out


# prefix_dot buckets rows by `order_cols[0] >> _BUCKET_SHIFT`.  The
# bucket is a pure function of the row, so any recompute, partitioning
# or AQE choice buckets alike; 2^16 key units per bucket (about $655 of
# cents) keeps the bucket table — the input of the offset window — at
# (key range >> 16) rows per group, whatever the row count.
_BUCKET_SHIFT = 16


def prefix_dot(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    c: str,
    w: str,
    sums: tuple[str, ...] = (),
) -> DataFrame:
    """One row per group: `dot` = sum_i w_i * (sum of c_j over the rows
    j before i in the group), as DECIMAL(38,0), plus `sum(x)` for each
    column x in `sums`.

    The exclusive prefix of `c` is never materialized per row: a window
    PARTITION BY (group, bucket) ORDER BY order_cols gives the in-bucket
    prefix, a per-(group, bucket) aggregate folds it into sum(w * prefix)
    with the bucket's sum(c) and sum(w), and a window PARTITION BY group
    ORDER BY bucket over that bucket table gives each bucket the sum of c
    before it, so dot = sum(w * prefix) + sum_b sum(w)_b * offset_b.

    `order_cols` must define a TOTAL order within each group and its
    first column must be integral (the bucket is its value >> 16)."""
    dec = "decimal(38,0)"
    in_bucket = (
        Window.partitionBy(*group_cols, "_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    buckets = (
        df.withColumn("_b", F.shiftright(F.col(order_cols[0]), _BUCKET_SHIFT))
        .withColumn("_loc", F.coalesce(F.sum(c).over(in_bucket), F.lit(0)))
        .groupBy(*group_cols, "_b")
        .agg(
            F.sum(F.col(w).cast(dec) * F.col("_loc")).alias("_wl"),
            F.sum(c).alias("_sc"),
            F.sum(w).alias("_sw"),
            *[F.sum(x).alias(x) for x in sums],
        )
    )
    before = (
        Window.partitionBy(*group_cols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("_sc").over(before), F.lit(0))
    return (
        buckets.withColumn("_off", off)
        .groupBy(*group_cols)
        .agg(
            F.sum(F.col("_wl") + F.col("_sw").cast(dec) * F.col("_off"))
            .cast(dec)
            .alias("dot"),
            *[F.sum(x).alias(x) for x in sums],
        )
    )
