"""Physical-plan introspection — the engine's scale-posture API.

tools/plan_audit.py asserts plan properties for the registry's own
queries; this module exposes the same checks as a PUBLIC API so user
pipelines can gate their own queries in CI before they ever touch a
1000-executor cluster: "this DataFrame must not collapse to a single
partition / must broadcast its dims / must not plan a cartesian
product" as an assertion, not a code-review hope.

Counting is done on the FORMATTED explain output (node headers like
"(12) BroadcastHashJoin"), which is stable across Spark 3.4-4.x and —
unlike parsing the plan tree via py4j internals — versions gracefully.
It is also the one place that renders a plan (formatted_plan) and
reduces it to a run-independent fingerprint (canonical_plan_hash).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_NODE = re.compile(r"^\(\d+\)\s+(\S+)", re.MULTILINE)
_PUSHED = re.compile(r"PushedFilters: \[([^\]]*)\]")
_SCHEMA = re.compile(r"ReadSchema: (\S+)")


@dataclass
class PlanSummary:
    """Scale-relevant facts extracted from a DataFrame's physical plan."""

    exchanges: int = 0
    single_partition_exchanges: int = 0
    broadcast_hash_joins: int = 0
    sort_merge_joins: int = 0
    shuffled_hash_joins: int = 0
    nested_loop_joins: int = 0
    cartesian_products: int = 0
    window_nodes: int = 0
    window_group_limits: int = 0
    take_ordered: int = 0
    python_eval_nodes: int = 0
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    plan_text: str = ""


def formatted_plan(df: DataFrame) -> str:
    """The text of `df.explain("formatted")`, returned instead of printed."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# Run-varying tokens of a formatted plan, each with its stand-in:
# expression, plan and RDD ids, paths, statistics, names drawn from
# JVM-wide counters (common subexpressions, lambda variables), ML random
# UIDs, and literal maps, which queries build from data collected while
# they are built (e.g. operators/rank.py's per-partition offsets, whose
# range boundaries come from a sample seeded by an RDD id).
_PLAN_SCRUBS = (
    (re.compile(r"#\d+"), "#x"),
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    (re.compile(r"RDD\[\d+\]"), "RDD[x]"),
    (re.compile(r"map\(keys: \[[^\]]*\], values: \[[^\]]*\]\)"), "map(x)"),
    (re.compile(r"Location: \S+ \[[^\]]*\]"), "Location: x"),
    (re.compile(r"file:/[^\s,\]]+"), "file:x"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(x)"),
    (re.compile(r"sizeInBytes=[^,)]+"), "sizeInBytes=x"),
    # spark.range() splits into defaultParallelism, the core count
    (re.compile(r"splits=Some\(\d+\)"), "splits=Some(n)"),
    (re.compile(r"\b(_common_expr|[xyz])_\d+\b"), r"\1_n"),
    (re.compile(r"_[0-9a-f]{12}\b"), "_uid"),
)
_PARTITIONING = re.compile(r"(?:hashpartitioning|rangepartitioning|RoundRobinPartitioning)\(")
_TRAILING_COUNT = re.compile(r"\d+$")
# A node's detail line, e.g. "Output [2]: [a#1, b#2]" or "Arguments: ...".
_DETAIL = re.compile(r"^([A-Z][\w ]*(?: \[\d+\])?): (.*)$", re.MULTILINE)
_TOKEN = re.compile(r"[\w#.$]+|\S")


def _scrub_partition_counts(plan: str) -> str:
    """Replace the partition count, the last argument of every
    hash/range/round-robin partitioning, with `n`.  The count is
    spark.sql.shuffle.partitions, which the session sizes to the core
    count, so the same plan must not hash differently per machine."""
    out: list[str] = []
    i = 0
    for m in _PARTITIONING.finditer(plan):
        if m.start() < i:
            continue
        depth, k = 1, m.end()
        while k < len(plan) and depth:
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            k += 1
        if depth:  # unbalanced (truncated) tail: leave it as it is
            break
        args = _TRAILING_COUNT.sub("n", plan[m.end() : k - 1])
        out.append(plan[i : m.end()] + args + ")")
        i = k
    out.append(plan[i:])
    return "".join(out)


def _sorted_detail(m: re.Match) -> str:
    return m.group(1) + ": " + " ".join(sorted(_TOKEN.findall(m.group(2))))


def canonical_plan_hash(plan: str) -> str:
    """md5 of a formatted plan with its run-varying parts removed.

    Equal hashes mean Catalyst chose the same plan.  The operator tree
    is hashed in order; each node's detail lines (its output, keys,
    functions, arguments) are hashed as sorted token lists, because
    Catalyst enumerates some of them in JVM hash order — e.g. the
    projections and gid numbering of the Expand that rewrites five or
    more count-distincts differ from one JVM to the next."""
    for pattern, repl in _PLAN_SCRUBS:
        plan = pattern.sub(repl, plan)
    plan = _DETAIL.sub(_sorted_detail, _scrub_partition_counts(plan))
    return hashlib.md5(plan.encode()).hexdigest()


def plan_summary(df: DataFrame) -> PlanSummary:
    """Summarize the physical plan Catalyst chose for `df`."""
    text = formatted_plan(df)
    s = PlanSummary(plan_text=text)
    for name in _NODE.findall(text):
        if name == "Exchange":
            s.exchanges += 1
        elif name == "BroadcastHashJoin":
            s.broadcast_hash_joins += 1
        elif name == "SortMergeJoin":
            s.sort_merge_joins += 1
        elif name == "ShuffledHashJoin":
            s.shuffled_hash_joins += 1
        elif name == "BroadcastNestedLoopJoin":
            s.nested_loop_joins += 1
        elif name == "CartesianProduct":
            s.cartesian_products += 1
        elif name == "Window":
            s.window_nodes += 1
        elif name == "WindowGroupLimit":
            s.window_group_limits += 1
        elif name == "TakeOrderedAndProject":
            s.take_ordered += 1
        elif (
            name.endswith("EvalPython")
            or "InPandas" in name
            or "InArrow" in name
        ):
            # covers BatchEvalPython / ArrowEvalPython / MapInPandas /
            # MapInArrow / FlatMapGroupsInPandas / FlatMapCoGroupsInPandas /
            # WindowInPandas / FlatMapGroupsInPandasWithState — every
            # Python-execution boundary, present and future spellings
            s.python_eval_nodes += 1
    # formatted mode renders a single-partition exchange ONLY as an
    # "Arguments: SinglePartition" line under its Exchange node — one
    # pattern, no double-count risk if other renderings ever appear
    s.single_partition_exchanges = text.count("Arguments: SinglePartition")
    s.pushed_filters = [m for m in _PUSHED.findall(text) if m.strip()]
    s.read_schemas = _SCHEMA.findall(text)
    return s


class PlanAssertionError(AssertionError):
    """Raised by assert_scale_safe with the offending plan attached."""


def assert_scale_safe(
    df: DataFrame,
    forbid_cartesian: bool = True,
    forbid_nested_loop: bool = False,
    max_single_partition_exchanges: int = 0,
    max_exchanges: int | None = None,
    require_pushed_filters: bool = False,
) -> PlanSummary:
    """Gate a DataFrame on the plan properties that decide whether it
    survives a 100x scale-up.  Defaults encode the hard failures
    (cartesian product, single-partition funnels); opt into the softer
    gates per query.  Returns the summary on success so callers can
    layer custom checks; raises PlanAssertionError with the plan text
    on the first violation.

    NOTE on single-partition exchanges: a 1-row global aggregate
    legitimately plans one — set max_single_partition_exchanges=1 for
    scalar-result queries; the default 0 is for row-stream pipelines,
    where a SinglePartition exchange means some stage funnels ALL rows
    through one task (the classic global-window mistake).
    """
    s = plan_summary(df)
    problems = []
    if forbid_cartesian and s.cartesian_products:
        problems.append(f"{s.cartesian_products} CartesianProduct node(s)")
    if forbid_nested_loop and s.nested_loop_joins:
        problems.append(f"{s.nested_loop_joins} BroadcastNestedLoopJoin node(s)")
    if s.single_partition_exchanges > max_single_partition_exchanges:
        problems.append(
            f"{s.single_partition_exchanges} single-partition exchange(s) "
            f"(max {max_single_partition_exchanges}) — some stage funnels "
            "every row through one task"
        )
    if max_exchanges is not None and s.exchanges > max_exchanges:
        problems.append(f"{s.exchanges} exchanges (max {max_exchanges})")
    if require_pushed_filters and not s.pushed_filters:
        problems.append("no PushedFilters reached any scan")
    if problems:
        raise PlanAssertionError(
            "; ".join(problems) + "\n--- physical plan ---\n" + s.plan_text
        )
    return s
