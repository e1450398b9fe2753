"""Independent pure-Python replays of the r8 evaluation-stats batch —
the oracle proves Spark == DuckDB; these prove both == the textbook
formula computed a third way (no SQL, no Spark expressions).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from cobradb_spark import registry


def _orders(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderpriority", "o_totalprice", "o_orderstatus")
        .collect()
    )


def test_roc_auc_matches_naive_pairwise(spark, sf_dir):
    """AUC from the rank-sum identity must equal the O(n_pos*n_neg)
    definition P(score_pos > score_neg) + P(==)/2, cross-multiplied to
    the same truncating ppm."""
    rows = _orders(spark, sf_dir)
    out = {
        r.prio: r
        for r in registry.get_query("mlprep_roc_auc").fn(spark, sf_dir).collect()
    }
    by_prio = defaultdict(lambda: ([], []))
    for r in rows:
        cents = math.floor(r.o_totalprice * 100.0 + 0.5)
        by_prio[r.o_orderpriority][r.o_orderstatus == "F"].append(cents)
    for prio, (neg, pos) in by_prio.items():
        # doubled pair score: 2 per win, 1 per tie (exact integers)
        neg_c = Counter(neg)
        wins2 = 0
        for p in pos:
            for nv, nc in neg_c.items():
                if p > nv:
                    wins2 += 2 * nc
                elif p == nv:
                    wins2 += nc
        want = wins2 * 1_000_000 // (2 * len(pos) * len(neg))
        got = out[prio]
        assert got.n_pos == len(pos) and got.n_neg == len(neg)
        assert got.auc_ppm == want, prio


def test_gini_matches_naive_sorted_replay(spark, sf_dir):
    """Gini from prefix_dot must equal the rank formulation
    (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over customers sorted in
    Python by (spend, custkey), as a truncating ppm."""
    spend = defaultdict(int)
    for r in (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        # CAST(o_totalprice * 100 AS DECIMAL(18,0)) rounds half up
        cents = Decimal(repr(r.o_totalprice * 100)).quantize(
            Decimal(1), rounding=ROUND_HALF_UP
        )
        spend[r.o_custkey] += int(cents)
    xs = [x for x, _ in sorted((x, c) for c, x in spend.items())]
    n, s = len(xs), sum(xs)
    rs = sum((i + 1) * x for i, x in enumerate(xs))
    num = 2 * rs * 1_000_000 - (n + 1) * s * 1_000_000
    assert num >= 0  # ascending order: floor division == truncation
    (got,) = registry.get_query("agg_gini_spend").fn(spark, sf_dir).collect()
    assert (got.n, got.total_cents) == (n, s)
    assert got.gini_ppm == num // (n * s)


def test_ks_matches_naive_cdf_scan(spark, sf_dir):
    rows = _orders(spark, sf_dir)
    out = {
        r.prio: r
        for r in registry.get_query("mlprep_ks_statistic")
        .fn(spark, sf_dir)
        .collect()
    }
    by_prio = defaultdict(lambda: ([], []))
    for r in rows:
        cents = math.floor(r.o_totalprice * 100.0 + 0.5)
        by_prio[r.o_orderpriority][r.o_orderstatus == "F"].append(cents)
    for prio, (neg, pos) in by_prio.items():
        grid = sorted(set(neg) | set(pos))
        np_, nn = len(pos), len(neg)
        best, best_at = -1, None
        cp = cn = 0
        pos_c, neg_c = Counter(pos), Counter(neg)
        for cents in grid:
            cp += pos_c.get(cents, 0)
            cn += neg_c.get(cents, 0)
            d = abs(cp * nn - cn * np_) * 1_000_000 // (np_ * nn)
            if d > best:
                best, best_at = d, cents
        got = out[prio]
        assert got.ks_ppm == best and got.ks_at_cents == best_at, prio


def test_t_closeness_matches_naive_tvd(spark, sf_dir):
    cust = {
        r.c_custkey: (str(r.c_nationkey), r.c_mktsegment)
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderpriority"
    ).collect()
    cls = Counter()
    n_cls = Counter()
    glob = Counter()
    for r in orders:
        nat, seg = cust[r.o_custkey]
        cls[(nat, seg, r.o_orderpriority)] += 1
        n_cls[(nat, seg)] += 1
        glob[r.o_orderpriority] += 1
    big_n = sum(glob.values())
    out = registry.get_query("etl_t_closeness_check").fn(spark, sf_dir).collect()
    assert len(out) == len(n_cls)
    for row in out:
        key = (row.nat, row.seg)
        n = n_cls[key]
        term = sum(
            abs(cls.get((row.nat, row.seg, s), 0) * big_n - g * n)
            for s, g in glob.items()
        )
        want = term * 1_000_000 // (2 * n * big_n)
        assert row.n_rows == n
        assert row.tvd_ppm == want, key
        assert row.t_violation == (want > 150_000)


def test_bootstrap_ci_matches_hash_replay(spark, sf_dir):
    """Exact replay of the deterministic Poisson bootstrap: same
    per-row md5 seed, same keyed MINSTD Lehmer replicate stream, same
    multiplicity table, same order statistics."""
    cdf = (367879, 735758, 919698, 981011, 996340, 999405, 999916)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    ).collect()
    B = 64
    s_m = defaultdict(int)
    s_mx = defaultdict(int)
    point_n = Counter()
    point_sum = Counter()
    M, A, K = 2147483647, 48271, 2654435761
    for r in li:
        cents = math.floor(r.l_extendedprice * 100.0 + 0.5)
        point_n[r.l_returnflag] += 1
        point_sum[r.l_returnflag] += cents
        key = f"{r.l_orderkey}-{r.l_linenumber}"
        h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        for rep in range(B):
            x = (h + (rep + 1) * K) % M
            x = (x * A) % M
            x = (x * A) % M
            u = x % 1_000_000
            m = next((k for k, c in enumerate(cdf) if u < c), 7)
            if m:
                s_m[(r.l_returnflag, rep)] += m
                s_mx[(r.l_returnflag, rep)] += m * cents
    means = defaultdict(list)
    for (flag, rep), sm in s_m.items():
        means[flag].append((s_mx[(flag, rep)] * 1000 // sm, rep))
    out = {
        r.flag: r
        for r in registry.get_query("analytics_bootstrap_ci")
        .fn(spark, sf_dir)
        .collect()
    }
    for flag, ms in means.items():
        ms.sort()
        got = out[flag]
        assert got.b_eff == len(ms) == B
        assert got.n_rows == point_n[flag]
        assert got.mean_milli == point_sum[flag] * 1000 // point_n[flag]
        assert got.ci_lo_milli == ms[1][0]    # 2nd order statistic
        assert got.ci_hi_milli == ms[62][0]   # 63rd
        assert got.ci_lo_milli <= got.mean_milli <= got.ci_hi_milli


def test_mann_kendall_matches_naive(spark, sf_dir):
    from cobradb_spark.io import load_events

    ev = load_events(spark, sf_dir).select("ts", "value").collect()
    daily = Counter()
    for r in ev:
        daily[r.ts.date()] += math.floor(r.value * 100.0 + 0.5)
    xs = [c for _, c in sorted(daily.items())]
    n = len(xs)
    s = sum(
        (xs[j] > xs[i]) - (xs[j] < xs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    tie = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(xs).values() if t > 1
    )
    var18 = n * (n - 1) * (2 * n + 5) - tie
    row = (
        registry.get_query("analytics_mann_kendall_trend")
        .fn(spark, sf_dir)
        .collect()[0]
    )
    assert row.n_days == n and row.s_stat == s and row.var18 == var18
    s_corr = s - 1 if s > 0 else s + 1 if s < 0 else 0
    want_z = math.floor(s_corr * 1_000_000.0 / math.sqrt(var18 / 18.0))
    assert row.z_micro == want_z


def test_winsorized_trimmed_mean_matches_naive_sort(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    vals = defaultdict(list)
    for r in li:
        vals[r.l_returnflag].append(math.floor(r.l_extendedprice * 100.0 + 0.5))
    out = {
        r.flag: r
        for r in registry.get_query("agg_winsorized_trimmed_mean")
        .fn(spark, sf_dir)
        .collect()
    }
    for flag, xs in vals.items():
        xs.sort()
        n = len(xs)
        k_lo, k_hi = n * 5 // 100, n - n * 5 // 100
        body = xs[k_lo:k_hi]
        p5, p95 = xs[k_lo], xs[k_hi - 1]
        got = out[flag]
        assert got.n_rows == n
        assert got.p5_cents == p5 and got.p95_cents == p95
        assert got.trimmed_mean_milli == sum(body) * 1000 // (k_hi - k_lo)
        w_sum = sum(body) + k_lo * p5 + (n - k_hi) * p95
        assert got.winsor_mean_milli == w_sum * 1000 // n
        # robustness direction: both inside the raw min/max envelope
        assert xs[0] * 1000 <= got.trimmed_mean_milli <= xs[-1] * 1000


def test_information_value_matches_naive(spark, sf_dir):
    rows = _orders(spark, sf_dir)
    pos = Counter()
    neg = Counter()
    for r in rows:
        (pos if r.o_orderstatus == "F" else neg)[r.o_orderpriority] += 1
    pt, nt = sum(pos.values()), sum(neg.values())
    out = {
        r.bin: r
        for r in registry.get_query("mlprep_information_value")
        .fn(spark, sf_dir)
        .collect()
    }
    for b in set(pos) | set(neg):
        got = out[b]
        assert got.n_pos == pos[b] and got.n_neg == neg[b]
        if pos[b] and neg[b]:
            woe = math.floor(
                math.log((pos[b] * nt) / (neg[b] * pt)) * 1_000_000
            )
            assert got.woe_micro == woe
            num = (pos[b] * nt - neg[b] * pt) * woe * 1000
            den = pt * nt
            # both engines truncate toward zero (verified r8)
            want = abs(num) // den * (1 if num >= 0 else -1)
            assert got.iv_contrib_nano == want, b
        else:
            assert got.woe_micro is None and got.iv_contrib_nano is None


def test_cramers_v_matches_naive(spark, sf_dir):
    cust = {
        r.c_custkey: r.c_mktsegment
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderpriority"
    ).collect()
    cells = Counter()
    for r in orders:
        cells[(cust[r.o_custkey], r.o_orderpriority)] += 1
    ra = Counter()
    cb = Counter()
    for (a, b), c in cells.items():
        ra[a] += c
        cb[b] += c
    n = sum(cells.values())
    chi2 = 0
    for (a, b), obs in cells.items():
        d = float(obs * n - ra[a] * cb[b])
        chi2 += math.floor(
            d * d * 1_000_000.0 / (((float(n) * ra[a]) * cb[b]) * n)
        )
    row = registry.get_query("mlprep_cramers_v").fn(spark, sf_dir).collect()[0]
    assert row.n_rows == n
    assert row.r_levels == len(ra) and row.c_levels == len(cb)
    assert row.chi2_ppm == chi2
    want_v = math.floor(
        math.sqrt(chi2 / 1_000_000.0 / min(len(ra) - 1, len(cb) - 1) / n)
        * 1_000_000
    )
    assert row.cramers_v_micro == want_v
    assert 0 <= row.cramers_v_micro <= 1_000_000


def test_zipf_fit_matches_naive(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").collect()
    cnt = Counter()
    for r in docs:
        cnt.update(r.text.split(" "))
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    xs, ys = [], []
    for i, (_, c) in enumerate(ranked, start=1):
        xs.append(math.floor(math.log(float(i)) * 1_000_000))
        ys.append(math.floor(math.log(float(c)) * 1_000_000))
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    num = (n * sxy - sx * sy) * 1_000_000
    den = n * sxx - sx * sx
    want = abs(num) // den * (1 if num >= 0 else -1)  # trunc toward zero
    row = registry.get_query("text_zipf_fit").fn(spark, sf_dir).collect()[0]
    assert row.n_vocab == n
    assert row.zipf_slope_micro == want
    assert row.x_bar_micro == sx // n and row.y_bar_micro == sy // n
    # natural-ish corpus: slope strictly negative
    assert row.zipf_slope_micro < 0


def test_average_precision_matches_naive(spark, sf_dir):
    rows = _orders(spark, sf_dir)
    out = {
        r.prio: r
        for r in registry.get_query("mlprep_average_precision")
        .fn(spark, sf_dir)
        .collect()
    }
    by_prio = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for r in rows:
        cents = math.floor(r.o_totalprice * 100.0 + 0.5)
        cell = by_prio[r.o_orderpriority][cents]
        cell[0] += 1
        if r.o_orderstatus == "F":
            cell[1] += 1
    for prio, cells in by_prio.items():
        cum_n = cum_pos = ap_sum = 0
        for cents in sorted(cells, reverse=True):
            n, npos = cells[cents]
            cum_n += n
            cum_pos += npos
            ap_sum += npos * (cum_pos * 1_000_000 // cum_n)
        n_pos = cum_pos
        got = out[prio]
        assert got.n_pos == n_pos and got.n_neg == cum_n - n_pos
        assert got.prevalence_ppm == n_pos * 1_000_000 // cum_n
        assert got.ap_ppm == ap_sum // n_pos
        # AP of a weak ranker sits near prevalence, inside [0, 1e6]
        assert 0 <= got.ap_ppm <= 1_000_000


def test_burstiness_matches_naive(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    per_doc = Counter()
    n_docs = len(docs)
    for r in docs:
        for w in r.text.split(" "):
            if len(w) >= 3:
                per_doc[(w, r.doc_id)] += 1
    freq = Counter()
    df = Counter()
    sum_sq = Counter()
    for (w, _), c in per_doc.items():
        freq[w] += c
        df[w] += 1
        sum_sq[w] += c * c
    scored = sorted(
        (
            (
                (n_docs * sum_sq[w] - freq[w] * freq[w])
                * 1_000_000
                // (freq[w] * (n_docs - 1)),
                w,
            )
            for w in freq
            if freq[w] >= 20
        ),
        key=lambda t: (-t[0], t[1]),
    )
    out = registry.get_query("text_burstiness_dispersion").fn(spark, sf_dir).collect()
    assert len(out) == min(30, len(scored))
    for rn, row in enumerate(sorted(out, key=lambda r: r.rn), start=1):
        d, w = scored[rn - 1]
        assert row.rn == rn and row.w == w and row.dispersion_ppm == d
        assert row.freq == freq[w] and row.df == df[w]
    # bursty head beats the Poisson floor by construction of the fixture
    assert out[0].dispersion_ppm > 1_000_000


def test_overlap_duration_matches_naive(spark, sf_dir):
    from cobradb_spark.io import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_type", "value"
    ).collect()
    import datetime as dt

    epoch = dt.datetime(1970, 1, 1)
    a = defaultdict(list)
    b = defaultdict(list)
    for r in ev:
        lo = int((r.ts - epoch).total_seconds() * 1_000_000)
        # match the SQL: round(value * 6e7) half-even is irrelevant here
        # because the engines agree; replay uses the same python round
        hi = lo + int(round(r.value * 60_000_000))
        if r.event_type == "view":
            a[r.user_id].append((lo, hi))
        elif r.event_type == "error":
            b[r.user_id].append((lo, hi))
    out = {
        r.user_id: r
        for r in registry.get_query("join_temporal_overlap_duration")
        .fn(spark, sf_dir)
        .collect()
    }
    n_users_expected = 0
    for u in set(a) & set(b):
        pairs = [
            min(ah, bh) - max(al, bl)
            for (al, ah) in a[u]
            for (bl, bh) in b[u]
            if bl < ah and al < bh
        ]
        if not pairs:
            continue
        n_users_expected += 1
        got = out[u]
        assert got.n_overlapping_pairs == len(pairs)
        assert got.total_overlap_us == sum(pairs)
        assert got.max_overlap_us == max(pairs)
        assert got.total_overlap_us > 0
    assert len(out) == n_users_expected


def test_peak_concurrency_matches_naive_sweep(spark, sf_dir):
    from cobradb_spark.io import load_events
    import datetime as dt

    ev = load_events(spark, sf_dir).select(
        "event_type", "ts", "value"
    ).collect()
    epoch = dt.datetime(1970, 1, 1)
    bounds = defaultdict(list)
    for r in ev:
        if r.event_type not in ("view", "click", "purchase"):
            continue
        lo = int((r.ts - epoch).total_seconds() * 1_000_000)
        hi = lo + int(round(r.value * 60_000_000))
        bounds[r.event_type].append((lo, 1))
        bounds[r.event_type].append((hi, -1))
    out = {
        r.event_type: r
        for r in registry.get_query("events_peak_concurrency")
        .fn(spark, sf_dir)
        .collect()
    }
    for et, bs in bounds.items():
        bs.sort()  # (us, delta): -1 before +1 at a tie — closed-open
        conc = peak = 0
        first_at = None
        n_at = 0
        for us, d in bs:
            conc += d
            if conc > peak:
                peak, first_at, n_at = conc, us, 1
            elif conc == peak:
                n_at += 1
        got = out[et]
        assert got.peak_concurrency == peak
        assert got.peak_first_at_us == first_at
        assert got.n_times_at_peak == n_at
        assert peak >= 1


def test_isotonic_minimax_equals_sequential_pav():
    """mlprep_isotonic_calibration uses the minimax closed form
    fitted(i) = max_{j<=i} min_{k>=i} mean(j..k) instead of the
    sequential pool-adjacent-violators loop.  Property-check the
    equivalence on random weighted grids with exact rationals (Ayer et
    al. 1955), plus the ppm pinning soundness: floor is monotone, so
    max/min commute with it and the truncated minimax equals the
    truncated exact fit."""
    from fractions import Fraction

    import numpy as np

    rng = np.random.default_rng(55)
    for _ in range(50):
        b = int(rng.integers(2, 12))
        n = rng.integers(1, 50, size=b)
        pos = np.array([rng.integers(0, ni + 1) for ni in n])

        # sequential PAV with exact rational pooled means
        blocks = [[int(n[i]), int(pos[i])] for i in range(b)]
        i = 0
        while i < len(blocks) - 1:
            if Fraction(blocks[i][1], blocks[i][0]) > Fraction(
                blocks[i + 1][1], blocks[i + 1][0]
            ):
                blocks[i][0] += blocks[i + 1][0]
                blocks[i][1] += blocks[i + 1][1]
                del blocks[i + 1]
                i = max(i - 1, 0)
            else:
                i += 1
        # expand pooled blocks back to per-bin fitted values
        expanded = []
        idx = 0
        for bn, bp in blocks:
            w = 0
            while w < bn:
                w += int(n[idx])
                expanded.append(Fraction(bp, bn))
                idx += 1
        assert idx == b

        # minimax closed form with exact rationals
        pre_n = np.concatenate([[0], np.cumsum(n)])
        pre_p = np.concatenate([[0], np.cumsum(pos)])

        def mean(j, k):
            return Fraction(int(pre_p[k + 1] - pre_p[j]), int(pre_n[k + 1] - pre_n[j]))

        mm = [
            max(min(mean(j, k) for k in range(i, b)) for j in range(i + 1))
            for i in range(b)
        ]
        assert mm == expanded
        # ppm pinning soundness: floor commutes with max/min
        mm_ppm = [
            max(
                min((pre_p[k + 1] - pre_p[j]) * 1000000 // (pre_n[k + 1] - pre_n[j])
                    for k in range(i, b))
                for j in range(i + 1)
            )
            for i in range(b)
        ]
        assert mm_ppm == [v * 1000000 // 1 if v.denominator == 1 else
                          (v.numerator * 1000000) // v.denominator for v in mm]


def _md5_bucket(seed: str, key) -> int:
    import hashlib

    return int(hashlib.md5(f"{seed}{key}".encode()).hexdigest()[:15], 16)


def test_welch_ttest_matches_scipy_style_replay(spark, sf_dir):
    """Welch t and Satterthwaite df recomputed the textbook way (floats
    over per-unit values, scipy.stats.ttest_ind(equal_var=False)
    algebra) must agree with the pinned-integer Spark result to ~1e-9
    relative — and the pinned integer columns must replay exactly."""
    import math
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_totalprice")
        .collect()
    )
    # exact cents like the query: per-order CAST(price*100 AS DECIMAL)
    # rounds half-to-even in double -> round() matches
    per = defaultdict(int)
    for r in rows:
        per[r.o_custkey] += round(r.o_totalprice * 100)
    arms = defaultdict(list)
    for cust, y in per.items():
        arms[_md5_bucket("welch", cust) % 2].append(y)
    out = registry.get_query("analytics_welch_ttest").fn(spark, sf_dir).collect()[0]
    c, t = arms[0], arms[1]
    assert out.n_control == len(c) and out.n_treatment == len(t)
    assert out.sum_cents_control == sum(c) and out.sum_cents_treatment == sum(t)
    # pinned integer variance replay
    for vals, got in ((c, out.var_cents2_control), (t, out.var_cents2_treatment)):
        n, s1 = len(vals), sum(vals)
        s2 = sum(v * v for v in vals)
        assert got == (n * s2 - s1 * s1) // (n * (n - 1))
    # float t from the same pinned integers, textbook algebra
    vc = (len(c) * sum(v * v for v in c) - sum(c) ** 2) // (len(c) * (len(c) - 1))
    vt = (len(t) * sum(v * v for v in t) - sum(t) ** 2) // (len(t) * (len(t) - 1))
    m_c = (sum(c) * 1000 // len(c)) / 1000.0
    m_t = (sum(t) * 1000 // len(t)) / 1000.0
    tstat = (m_t - m_c) / math.sqrt(vc / len(c) + vt / len(t))
    assert abs(out.t_stat - tstat) <= 1e-9 * max(1.0, abs(tstat))


def test_spearman_matches_scipy_style_replay(spark, sf_dir):
    """rho from the centered doubled-rank integer moments must agree
    with tie-corrected average-rank Pearson computed the textbook way
    (floats over per-row average ranks)."""
    from collections import Counter, defaultdict

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    linec = Counter(
        r.l_orderkey
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey")
        .collect()
    )
    xs, ys = [], []
    for r in orders:
        if r.o_orderkey in linec:
            xs.append(round(r.o_totalprice * 100))
            ys.append(linec[r.o_orderkey])
    n = len(xs)

    def avg_ranks(vals):
        cnt = Counter(vals)
        less = {}
        acc = 0
        for v in sorted(cnt):
            less[v] = acc
            acc += cnt[v]
        return [less[v] + (cnt[v] + 1) / 2.0 for v in vals]

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    mx = sum(rx) / n
    my = sum(ry) / n
    sxy = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    sxx = sum((a - mx) ** 2 for a in rx)
    syy = sum((b - my) ** 2 for b in ry)
    rho_ref = sxy / (sxx * syy) ** 0.5
    out = registry.get_query("analytics_spearman_corr").fn(spark, sf_dir).collect()[0]
    assert out.n_rows == n
    # integer moments replay: centered doubled ranks are exactly
    # 2*avg_rank - (n+1)
    cx = [int(2 * a - (n + 1)) for a in rx]
    cy = [int(2 * b - (n + 1)) for b in ry]
    assert out.s_xy == sum(a * b for a, b in zip(cx, cy))
    assert out.s_xx == sum(a * a for a in cx)
    assert out.s_yy == sum(b * b for b in cy)
    # rho^2 is pinned at ppm, so compare at the squared level (the rho
    # error scales as 1e-6 / (2|rho|) and blows past ppm for small rho)
    assert abs(out.rho**2 - rho_ref**2) <= 2e-6
    assert (out.rho > 0) == (rho_ref > 0)


def test_qte_matches_naive_rank_selection(spark, sf_dir):
    """Per-arm type-1 quantiles recomputed by sorting the raw arm
    outcomes in Python must equal the distributed rank selection."""
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey", "o_totalprice")
        .collect()
    )
    per = defaultdict(int)
    for r in rows:
        per[r.o_custkey] += round(r.o_totalprice * 100)
    arms = defaultdict(list)
    for cust, y in per.items():
        arms[_md5_bucket("qte", cust) % 2].append(y)
    for a in arms:
        arms[a].sort()
    out = {
        r.pct: r
        for r in registry.get_query("analytics_quantile_treatment_effect")
        .fn(spark, sf_dir)
        .collect()
    }
    for p in (25, 50, 75, 90):
        qc = arms[0][(p * len(arms[0]) + 99) // 100 - 1]
        qt = arms[1][(p * len(arms[1]) + 99) // 100 - 1]
        assert out[p].q_control_cents == qc
        assert out[p].q_treatment_cents == qt
        assert out[p].qte_cents == qt - qc
