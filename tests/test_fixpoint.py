"""operators/fixpoint.components on a tiny synthetic graph: a 64-node
path (diameter 63, the worst case for plain min-propagation), a second
component, and one isolated node."""

from __future__ import annotations

import pytest

from cobradb_spark.operators.fixpoint import components

_PATH = list(range(64))  # min id 0 at one end: labels must cross 63 hops
_PAIRS = list(zip(_PATH, _PATH[1:])) + [(101, 100), (102, 101)]
_NODES = _PATH + [100, 101, 102, 200]  # 200 has no edges


def _graph(spark):
    edges = spark.createDataFrame(
        _PAIRS + [(b, a) for a, b in _PAIRS], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(n,) for n in _NODES], "id bigint")
    return edges, nodes


def test_components_min_id_labels(spark):
    edges, nodes = _graph(spark)
    # path halving: label reach grows as d -> 2d + 2 per round, so the
    # 63-hop path converges well inside 8 rounds (plain propagation
    # would need 64)
    out = components(edges, nodes, max_rounds=8, name="tiny")
    assert out.columns == ["n", "comp"]
    got = {r.n: r.comp for r in out.collect()}
    expect = {n: 0 for n in _PATH} | {100: 100, 101: 100, 102: 100, 200: 200}
    assert got == expect


def test_components_raises_at_round_cap(spark):
    edges, nodes = _graph(spark)
    with pytest.raises(RuntimeError, match="tiny_cap_probe"):
        components(edges, nodes, max_rounds=2, name="tiny_cap_probe")
