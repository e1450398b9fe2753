"""The benchmark's workloads.

Each workload is a frozen list of registry keys run at one scale factor
of the fixed test data.  Keys are explicit names, so registry edits
cannot shift a workload.  Why each workload is there is in
BENCHMARK.json; which layer metric should move which end-to-end metric
is in README.md.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: str
    keys: tuple[str, ...]


WORKLOADS = {
    "tpch": Workload(
        sf="0.1",
        keys=(
            "agg_basic",
            "sql_shipping_priority_q3",
            "sql_large_volume_in_q18",
        ),
    ),
    # The mechanisms tpch bypasses, in keys whose execution outweighs their
    # fixed per-query cost: a rank-based AUC (jobs while the frame is
    # built, a pinned cache), a grouped pandas UDF and a pure-Python image
    # decoder (Python workers).  Keys that are mostly fixed cost (tiny jobs,
    # py4j round trips) warm up at a different pace in every JVM and moved
    # up to a quarter between runs (README.md).
    "mixed": Workload(
        sf="0.1",
        keys=(
            "mlprep_roc_auc",
            "multimodal_bmp_decode",
            "udaf_pandas_grouped_agg",
        ),
    ),
}
