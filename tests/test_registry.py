"""Registry integrity: the driver contract surface."""

from __future__ import annotations

import re

from cobradb_spark import registry

ALLOWED_TABLES = {
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
}

# FROM/JOIN targets in oracle SQL that are not CTE names must be testdata
# views.  "(?<!DISTINCT )" skips the comparison operator "IS [NOT]
# DISTINCT FROM <operand>", whose right side is a column, not a table.
_FROM_RE = re.compile(r"\b(?<!DISTINCT )(?:FROM|JOIN)\s+([a-zA-Z_][a-zA-Z0-9_]*)", re.IGNORECASE)
_CTE_RE = re.compile(
    r"\b([a-zA-Z_][a-zA-Z0-9_]*)\s*(?:\([a-zA-Z0-9_,\s]*\))?\s+AS\s*(?:MATERIALIZED\s*)?\(",
    re.IGNORECASE
)


def test_registry_nonempty_and_unique():
    qs = registry.all_queries()
    assert len(qs) >= 60
    assert all(q.fn is not None for q in qs.values())


def test_oracles_reference_only_preregistered_views():
    for name, q in registry.all_queries().items():
        if q.oracle is None:
            continue
        ctes = {m.lower() for m in _CTE_RE.findall(q.oracle)}
        for tbl in _FROM_RE.findall(q.oracle):
            t = tbl.lower()
            # 'null' arises from "IS NOT DISTINCT FROM NULL" phrasing
            if t in ctes or t in {"unnest", "lateral", "read_parquet", "null", "timestamp"}:
                continue
            assert t in ALLOWED_TABLES, f"{name}: oracle references unknown table {t}"


def test_entry_contract_shapes():
    import __spark_entry__ as E

    qmap, omap = E.queries(), E.oracle_sql()
    assert set(omap) <= set(qmap)
    assert len(qmap) >= 60


def test_driver_window_shape():
    """The correctness driver hash-checks the FIRST 50 queries()
    entries, so the window is part of the verification contract: it is
    exactly _DRIVER_PRIORITY, 50 unique registered keys, each carrying
    a DuckDB oracle (a window slot without one is not a hash check)."""
    import __spark_entry__ as E

    qs = registry.all_queries()
    window = list(registry._DRIVER_PRIORITY)
    assert list(qs)[:50] == window
    assert list(E.queries())[:50] == window
    assert len(set(window)) == 50, "duplicate keys in the driver window"
    for name in window:
        assert qs[name].oracle is not None, f"{name} in driver window without oracle"


def _latest_driver_round() -> dict[str, int]:
    """key -> the latest round with a row in any CORRECTNESS_r*.json."""
    import json
    from pathlib import Path

    latest: dict[str, int] = {}
    for p in Path(__file__).resolve().parent.parent.glob("CORRECTNESS_r*.json"):
        rnd = int(p.stem.split("_r")[1])
        for k in json.loads(p.read_text()):
            latest[k] = max(latest.get(k, 0), rnd)
    return latest


def test_window_covers_unchecked_and_stale_keys():
    """Monotone in the driver's artifacts (rows only accumulate, so
    both sets below only shrink): every oracle key with no driver row,
    and every key whose latest row is r5 or older, is in the window."""
    qs = registry.all_queries()
    window = set(registry._DRIVER_PRIORITY)
    latest = _latest_driver_round()
    never_checked = {n for n, q in qs.items() if q.oracle is not None and n not in latest}
    assert never_checked <= window, sorted(never_checked - window)
    stale = {n for n in qs if latest.get(n, 99) <= 5}
    assert stale <= window, sorted(stale - window)
