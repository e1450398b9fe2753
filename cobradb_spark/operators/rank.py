"""Distributed ranks and prefix sums — the scale-safe ranking primitives.

A plain `row_number() OVER (ORDER BY ...)` funnels every row through ONE
partition (Catalyst plans a single-partition window) — the classic
100 TB cliff.  This module computes the same statistics distributed, in
two shapes chosen by what the consumer does with the rank.

Per-row consumers (a quantile pick, a running maximum, ntile, a
winsorized cut, a rolling frame's x) need the rank or prefix ON each
row.  They all go through prefix_sums (global_rank is the prefix sum of
a literal 1), which computes it, grouped or not, from one range
partition:

1. `repartitionByRange` on the (group, order) keys — partition i holds
   a contiguous, disjoint key range, ranges ascending with partition
   id;
2. ONE driver collect of per-(partition, group) sums — at most
   K + |groups| tiny rows — prefix-summed into per-partition offsets
   and group totals;
3. a window PARTITIONED by the range-partition id (so it shuffles by
   pid, never collapses to one task) computes the local running sum,
   and `offset + local` is the exact prefix.

Ties must be fully broken by the order keys (callers append a unique
key), which makes the result independent of where the sampled range
boundaries happen to fall.  The sampled frame is persisted and pinned
(see the RELEASE CONTRACT below), and sampling plus the collect cost
driver jobs while the frame is built.

Linear consumers (a Mann-Whitney rank sum, Gini's sum of rank * x) only
SUM the rank against a weight.  prefix_dot serves them inside one plan:
rows bucket by a pure function of the first order key, a window per
(group, bucket) gives the in-bucket prefix, and a window over the small
per-bucket table gives each bucket its offset.  No sampling, no persist,
no collect: building the frame runs no Spark job.
"""

from __future__ import annotations

import threading

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, MapType, StructType

# Persisted range-partitioned frames, pinned until the caller's result is
# materialized.  The persist is load-bearing for correctness (the offset
# map is computed from ONE evaluation of the sampled range partitioning;
# an unpersisted recompute could resample different boundaries), so the
# frames cannot be unpersisted inside the operator.
#
# RELEASE CONTRACT (module API, not an implementation detail): every
# pin_cache() leaks a persisted frame until release_rank_caches() runs.
# Two kinds of frame are pinned: prefix_sums' range-partitioned frame
# (global_rank, global_ntile and the rolling-OLS x in queries/windows.py
# all reach it through prefix_sums, so windows.py pins nothing itself)
# and the query-local caches handed to pin_cache (graph loops, text and
# analytics keys).  cobradb_spark/runner.run calls release_rank_caches()
# once per run, in a finally, after the result is materialized; every
# timing and checking harness (bench.py, tools/bench_once.py,
# tools/op_sweep.py, tools/check.py) runs keys through it.  The plan-only
# tools, tools/plan_audit.py and tools/explain_dump.py, call it after
# each key's plan, and perfbench/worker.py after each key's run.  No
# query build calls it: that would drain pins another
# built-but-unexecuted query still relies on.  __spark_entry__ does not:
# under the external verify driver the pins live until its session
# ends.  Any OTHER caller that materializes its result must call
# release_rank_caches() itself once the result is collected.  Guarded by
# a lock: the registry is shared module state and query builds may race
# from multiple threads.
_PINNED: list[DataFrame] = []
_PINNED_LOCK = threading.Lock()


def pin_cache(df: DataFrame) -> DataFrame:
    """persist() a frame that multiple downstream subtrees re-evaluate,
    registered for release_rank_caches() — the query-local caching idiom
    (iterative graph loops, multi-reference edge lists).  See the
    RELEASE CONTRACT above: callers that do not run keys through
    cobradb_spark/runner.run must call release_rank_caches() after
    materializing their result."""
    df = df.persist()
    with _PINNED_LOCK:
        _PINNED.append(df)
    return df


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


def _range_tagged(df: DataFrame, order_cols: list, num_parts: int | None) -> DataFrame:
    """`df` range-partitioned by `order_cols` into `num_parts` (default:
    the core count) partitions, each row tagged with its partition id
    `_pid`, persisted and pinned."""
    k = num_parts or max(df.sparkSession.sparkContext.defaultParallelism, 2)
    return pin_cache(
        df.repartitionByRange(k, *order_cols).withColumn("_pid", F.spark_partition_id())
    )


def global_rank(
    df: DataFrame, order_cols: list, rank_col: str = "rank", num_parts: int | None = None
) -> DataFrame:
    """Add `rank_col` = exact global row_number by `order_cols` and
    `<rank_col>_n` = the row count, distributed: the rank is the
    inclusive prefix sum of a literal 1, the count that sum's total.

    `order_cols` must define a TOTAL order (append a unique tiebreaker).
    """
    ones = df.withColumn(rank_col, F.lit(1).cast("long"))
    return prefix_sums(ones, [], order_cols, [rank_col], num_parts).select(
        *[c for c in ones.columns if c != rank_col],
        (F.col(f"{rank_col}_before") + 1).alias(rank_col),
        F.col(f"{rank_col}_total").alias(f"{rank_col}_n"),
    )


def global_ntile(
    df: DataFrame,
    order_cols: list,
    k: int,
    out_col: str,
    num_parts: int | None = None,
) -> DataFrame:
    """Exact SQL ntile(k) by `order_cols` WITHOUT a single-partition
    window: ntile_expr of the distributed global rank and row count."""
    rank_col = "_ntile_rn"
    while rank_col in df.columns:
        rank_col += "_"
    rn, n = F.col(rank_col), F.col(f"{rank_col}_n")
    return (
        global_rank(df, order_cols, rank_col, num_parts)
        .withColumn(out_col, ntile_expr(rn, n, k).cast("long"))
        .drop(rank_col, f"{rank_col}_n")
    )


def ntile_expr(rn: Column, n: Column, k: int) -> Column:
    """Closed-form SQL ntile(k) bucket for global row_number `rn` over a
    total order of `n` rows: the first n%k buckets hold ceil(n/k) rows,
    the rest floor(n/k).  With fewer rows than buckets (q = 0) every
    row is in the head, so the division by q is never evaluated."""
    r = n % k
    q = ((n - r) / k).cast("long")  # exact: n - r is a multiple of k
    head = r * (q + 1)  # rows living in the size-(q+1) buckets
    return F.when(rn <= head, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - head) / q)
    )


def prefix_sums(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    values: list[str],
    num_parts: int | None = None,
) -> DataFrame:
    """Add `<v>_before` and `<v>_total` for each integral column v in
    `values`: the EXCLUSIVE prefix sum of v within the row's group in
    the order `order_cols`, and the sum of v over the group.
    `group_cols=[]` makes the whole frame one group, whose `<v>_total`
    is a literal.

    The frame is range-partitioned by the composite (group_cols,
    order_cols) order.  ONE driver collect of sum(v) per (partition,
    group) — at most K + |groups| rows, read from the pinned frame —
    gives each partition the sum of v over the partitions before it,
    and each group the sum over the groups before it and its total.  A
    window PARTITION BY _pid in the composite order adds the partition's
    running sum, so the composite prefix minus the group's start is the
    prefix within the group.  `order_cols` (names or sort Columns) must
    define a TOTAL order within each group: append a unique tiebreaker.
    Group keys must order in Python as Spark orders them ascending
    (strings, integers, nulls first).  `num_parts` sets the partition
    count K."""
    tagged = _range_tagged(df, [*group_cols, *order_cols], num_parts)
    n = len(values)
    per_pid = tagged.groupBy("_pid", *group_cols).agg(*[F.sum(v).alias(v) for v in values])
    sums = {
        (r["_pid"], tuple(r[c] for c in group_cols)): [r[v] or 0 for v in values]
        for r in per_pid.collect()
    }

    def before_and_total(part: int, order=None):
        """Per partition (part=0) or group (part=1): the summed values of
        the partitions or groups before it in `order`, and its own."""
        total: dict = {}
        for k, s in sums.items():
            total[k[part]] = [a + b for a, b in zip(total.get(k[part], [0] * n), s)]
        before, acc = {}, [0] * n
        for k in sorted(total, key=order):
            before[k], acc = acc, [a + b for a, b in zip(acc, total[k])]
        return before, total

    pid_before, _ = before_and_total(0)
    grp_before, grp_total = before_and_total(1, lambda g: [(x is not None, x) for x in g])
    # (partition, group) -> [partition offset - group start..., group totals...]
    entries = {
        (pid, *g): [a - b for a, b in zip(pid_before[pid], grp_before[g])] + grp_total[g]
        for pid, g in sums
    }
    key_type = StructType([per_pid.schema[c] for c in ("_pid", *group_cols)])
    # a numpy array is one py4j call where F.array(*lits) is one per item
    lookup = F.create_map(
        *[
            x
            for k, e in entries.items()
            for x in (F.struct(*map(F.lit, k)), F.lit(np.array(e, dtype=np.int64)))
        ]
    ).cast(MapType(key_type, ArrayType(LongType())))[F.struct("_pid", *group_cols)]
    local = (
        Window.partitionBy("_pid")
        .orderBy(*group_cols, *order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # with no groups the totals are constants, which the optimizer folds
    # into whatever reads them (an ntile's bounds, a rank pick)
    one = grp_total.get((), [0] * n)
    # totals in a second projection: in the window's projection they
    # would be evaluated below it and widen its shuffle
    return (
        tagged.withColumns(
            {
                f"{v}_before": lookup[i] + F.coalesce(F.sum(v).over(local), F.lit(0))
                for i, v in enumerate(values)
            }
        )
        .withColumns(
            {
                f"{v}_total": lookup[n + i] if group_cols else F.lit(one[i]).cast("long")
                for i, v in enumerate(values)
            }
        )
        .drop("_pid")
    )


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
