"""Time-series decomposition/regression semantics (windows.py OLS,
analytics.py STL).

The oracle gate proves Spark == DuckDB bit-for-bit; these tests pin
the math against independent references:

1. The integer-sum closed-form OLS slope/intercept matches
   numpy.polyfit on the same (x, cents/100) frame to float tolerance.
2. STL reconstruction: observed == trend + seasonal + residual (to
   addition-reordering tolerance), and the seasonal component is
   constant per (event_type, hour-of-day).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.queries import windows
from cobradb_spark.queries.windows import _OLS_WIN
from cobradb_spark.registry import get_query


def test_rolling_ols_matches_polyfit(spark, sf_dir, monkeypatch):
    """Also with chunks of 49 (= the carry, every row copied) and 64
    rows: sf0.001 series run about 200 rows, so frames cross chunk
    boundaries, which no fixture does at the default 2^16."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in ev:
        series.setdefault(r["event_type"], []).append(
            (r["ts"], r["event_id"], r["value"])
        )
    want = {}
    for etype, pts in series.items():
        pts.sort()
        ys = [np.floor(v * 100.0 + 0.5) / 100.0 for _, _, v in pts]
        for i, (_, eid, _) in enumerate(pts[1:], 1):  # n == 1 rows are filtered
            lo = max(0, i - (_OLS_WIN - 1))
            xs = np.arange(lo + 1, i + 2, dtype=np.float64)
            slope, intercept = np.polyfit(xs, np.asarray(ys[lo : i + 1]), 1)
            want[(etype, eid)] = (i + 1, i + 1 - lo, slope, intercept)
    assert len(want) > 40
    for chunk in (windows._OLS_CHUNK, 49, 64):
        monkeypatch.setattr(windows, "_OLS_CHUNK", chunk)
        rows = get_query("win_rolling_ols_slope").fn(spark, sf_dir).collect()
        # one row per (series, event): no carry copy reaches the output
        assert len(rows) == len(want), chunk
        assert {(r["event_type"], r["event_id"]) for r in rows} == want.keys(), chunk
        for r in rows:
            x, n, slope, intercept = want[(r["event_type"], r["event_id"])]
            assert (r["x"], r["n"]) == (x, n), chunk
            assert abs(r["slope"] - slope) < 1e-9 * max(1.0, abs(slope)), chunk
            assert abs(r["intercept"] - intercept) < 1e-7 * max(1.0, abs(intercept)), chunk


def test_stl_reconstruction_and_seasonal_constancy(spark, sf_dir):
    rows = get_query("events_stl_decompose").fn(spark, sf_dir).collect()
    assert len(rows) > 100
    seasonal_by_key: dict = {}
    for r in rows:
        assert abs(r["observed"] - (r["trend"] + r["seasonal"] + r["residual"])) < 1e-9
        key = (r["event_type"], r["hour"].hour)
        if key in seasonal_by_key:
            assert seasonal_by_key[key] == r["seasonal"]
        else:
            seasonal_by_key[key] = r["seasonal"]
    # the seasonal profile is small by design: |types| x <=24
    n_types = len({k[0] for k in seasonal_by_key})
    assert len(seasonal_by_key) <= n_types * 24


def test_holt_winters_matches_python_replay(spark, sf_dir):
    """Replay the exact HW recurrence (zero-init seasonals, per-step
    round-9) in pure Python from the daily grid and require identical
    level/trend and f1-f3 = level + h*trend + seasonal index."""
    import numpy as np
    import pyspark.sql.functions as F

    from cobradb_spark.io import load_table
    from cobradb_spark.queries.analytics import (
        _HW_ALPHA,
        _HW_BETA,
        _HW_GAMMA,
        _HW_M,
    )
    from cobradb_spark.registry import get_query

    def _round(x, p):
        scale = 10.0 ** p
        return float(np.floor(abs(x) * scale + 0.5) / scale * (1 if x >= 0 else -1))

    rows = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .collect()
    )
    series = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append((r["day"], r["y"]))
    got = {
        r["event_type"]: r
        for r in get_query("events_forecast_holt_winters").fn(spark, sf_dir).collect()
    }
    for etype, pts in series.items():
        pts.sort()
        y = [v for _, v in pts]
        l, b = float(y[0]), 0.0
        s = [0.0] * _HW_M
        for t in range(1, len(y)):
            l_new = _round(_HW_ALPHA * (y[t] - s[0]) + (1 - _HW_ALPHA) * (l + b), 9)
            b = _round(_HW_BETA * (l_new - l) + (1 - _HW_BETA) * b, 9)
            s_new = _round(_HW_GAMMA * (y[t] - l_new) + (1 - _HW_GAMMA) * s[0], 9)
            s = s[1:] + [s_new]
            l = l_new
        r = got[etype]
        assert r["n_days"] == len(y)
        assert r["level"] == l and r["trend"] == b
        assert r["f1"] == _round(l + b + s[0], 6)
        assert r["f2"] == _round(l + 2 * b + s[1], 6)
        assert r["f3"] == _round(l + 3 * b + s[2], 6)


def test_rolling_corr_matches_numpy(spark, sf_dir):
    import numpy as np
    import pyspark.sql.functions as F

    from cobradb_spark.io import load_table
    from cobradb_spark.queries.windows import _CORR_WIN
    from cobradb_spark.registry import get_query

    g = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias("c"))
        .collect()
    )
    series = {}
    for r in g:
        series.setdefault(r["hour"], {})[r["event_type"]] = r["c"]
    hours = sorted(h for h, d in series.items() if len(d) == 2)
    xs = np.array([series[h]["view"] for h in hours], dtype=np.float64)
    ys = np.array([series[h]["click"] for h in hours], dtype=np.float64)
    got = {
        r["hour"]: (r["n"], r["rolling_corr"])
        for r in get_query("win_rolling_corr").fn(spark, sf_dir).collect()
    }
    assert set(got) == set(hours)
    checked = 0
    for i, h in enumerate(hours):
        lo = max(0, i - (_CORR_WIN - 1))
        xw, yw = xs[lo : i + 1], ys[lo : i + 1]
        n, corr = got[h]
        assert n == i + 1 - lo
        if len(xw) >= 2 and xw.std() > 0 and yw.std() > 0:
            expect = np.corrcoef(xw, yw)[0, 1]
            assert abs(corr - expect) < 1e-9
            checked += 1
        else:
            assert corr is None
    assert checked > 40  # sf0.001 has 46 aligned pair hours


def test_state_duration_conserves_time_and_splits_at_midnight(spark, sf_dir):
    """Apportionment must neither create nor destroy time: the summed
    per-day state_us must equal the summed raw interval lengths; and a
    crafted midnight-spanning interval must split exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cobradb_spark.io import load_table
    from cobradb_spark.registry import get_query

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    raw_total = (
        e.select("user_id", "ts", "event_id", us.alias("s"))
        .withColumn("e", F.lead("s").over(w))
        .filter(F.col("e").isNotNull())
        .agg(F.sum(F.col("e") - F.col("s")).alias("t"))
        .first()["t"]
    )
    out = get_query("rollup_state_duration").fn(spark, sf_dir)
    assert out.agg(F.sum("state_us")).first()[0] == raw_total

    # midnight split: interval from 23:00 day 0 to 01:00 day 1
    DAY = 86_400_000_000
    s, t = 23 * 3_600_000_000, DAY + 3_600_000_000
    days = list(range(s // DAY, t // DAY + 1))
    parts = [
        min(t, (d + 1) * DAY) - max(s, d * DAY) for d in days
    ]
    assert parts == [3_600_000_000, 3_600_000_000] and sum(parts) == t - s
